"""Property-based tests (hypothesis): the distributed operators agree with
pure-Python reference models on randomized inputs — beyond the hand-picked
cases, any counterexample shrinks to a minimal repro."""

import datetime as dt

from hypothesis import HealthCheck, given, settings, strategies as st

from covid19_spark.operators.delta import running_delta
from covid19_spark.operators.sessions import sessionize

BASE = dt.datetime(2024, 1, 1)

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),            # key
        st.integers(min_value=0, max_value=10_000),       # offset minutes
        st.integers(min_value=-100, max_value=100),       # value
    ),
    min_size=1,
    max_size=25,
)

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)


def _rows(raw):
    # unique (key, ts) per row: collapse duplicate timestamps deterministically
    seen = {}
    for k, mins, v in raw:
        seen[(k, mins)] = v
    return [
        (k, BASE + dt.timedelta(minutes=m), float(v), i)
        for i, ((k, m), v) in enumerate(sorted(seen.items()))
    ]


@given(events_strategy)
@SETTINGS
def test_running_delta_matches_python_model(spark, raw):
    rows = _rows(raw)
    df = spark.createDataFrame(rows, ["k", "ts", "v", "rid"])
    got = {
        (r.k, r.ts): r.delta_v
        for r in running_delta(df, ["k"], ["ts", "rid"], ["v"]).collect()
    }
    # python model: per key in ts order, delta = v - prev (first: v - 0)
    by_key: dict = {}
    for k, ts, v, _ in sorted(rows, key=lambda x: (x[0], x[1])):
        prev = by_key.get(k, 0.0)
        assert got[(k, ts)] == v - prev, (k, ts, v, prev)
        by_key[k] = v


@given(events_strategy)
@SETTINGS
def test_sessionize_matches_python_model(spark, raw):
    rows = _rows(raw)
    gap = dt.timedelta(minutes=30)
    df = spark.createDataFrame(rows, ["k", "ts", "v", "rid"])
    got = {
        (r.k, r.ts): r.session_id
        for r in sessionize(df, ["k"], "ts", "30 minutes", tiebreak_cols=["rid"]).collect()
    }
    last_ts: dict = {}
    sid: dict = {}
    for k, ts, _, _ in sorted(rows, key=lambda x: (x[0], x[1])):
        if k not in last_ts or ts > last_ts[k] + gap:
            sid[k] = sid.get(k, 0) + 1
        last_ts[k] = ts
        assert got[(k, ts)] == sid[k], (k, ts)


@given(
    st.lists(st.sampled_from(["aaa bbb ccc", "ddd eee fff", "aaa bbb ccc ddd"]), min_size=1, max_size=12)
)
@SETTINGS
def test_exact_dedup_counts_match_python(spark, texts):
    from covid19_spark.operators.dedup import exact_dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.canonical_id: r.n_dupes for r in exact_dedup(df, "text", "doc_id").collect()}
    expect: dict = {}
    for i, t in rows:
        first = min(j for j, u in rows if u == t)
        expect[first] = expect.get(first, 0) + 1
    assert got == expect


asof_strategy = st.tuples(
    st.lists(  # left rows: (key, minute)
        st.tuples(st.integers(1, 3), st.integers(0, 500)),
        min_size=1, max_size=15,
    ),
    st.lists(  # right rows: (key, minute, value)
        st.tuples(st.integers(1, 3), st.integers(0, 500), st.integers(-50, 50)),
        min_size=0, max_size=15,
    ),
)


@given(asof_strategy)
@SETTINGS
def test_asof_join_matches_python_model(spark, raw):
    from covid19_spark.operators.asof import asof_join

    left_raw, right_raw = raw
    lrows = [
        (k, BASE + dt.timedelta(minutes=m), i)
        for i, (k, m) in enumerate(sorted(set(left_raw)))
    ]
    rrows = [
        (k, BASE + dt.timedelta(minutes=m), float(v), 1000 + i)
        for i, (k, m, v) in enumerate(sorted(set(right_raw)))
    ]
    left = spark.createDataFrame(lrows, "k long, ts timestamp, lid long")
    right = spark.createDataFrame(rrows, "k long, ts timestamp, v double, rid long")
    got = {
        r["lid"]: r["rid"]
        for r in asof_join(
            left, right, ["k"], "ts", "ts",
            right_payload=["rid", "v"], right_tiebreak="rid",
        ).collect()
    }
    assert len(got) == len(lrows)  # left join: every left row survives
    for k, lts, lid in lrows:
        cands = [(r[1], r[3]) for r in rrows if r[0] == k and r[1] <= lts]
        expect = max(cands)[1] if cands else None  # latest ts, then max rid
        assert got[lid] == expect, (k, lts, cands)


@given(st.lists(
    st.tuples(st.integers(1, 2), st.integers(0, 100), st.sampled_from("ABC")),
    min_size=1, max_size=20,
))
@SETTINGS
def test_scd2_matches_python_model(spark, raw):
    from covid19_spark.operators.cdc import scd2_intervals

    seen = {}
    for k, m, a in raw:
        seen[(k, m)] = a
    rows = [
        (k, BASE + dt.timedelta(minutes=m), a, i)
        for i, ((k, m), a) in enumerate(sorted(seen.items()))
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, attr string, eid long")
    got = sorted(
        ((r["k"], r["version"], r["attr"], r["valid_from"], r["valid_to"], r["n_events"])
         for r in scd2_intervals(df, ["k"], "ts", ["attr"], ["eid"]).collect()),
    )
    # python model: run-collapse per key in ts order
    expected = []
    for k in sorted({r[0] for r in rows}):
        krows = sorted((r for r in rows if r[0] == k), key=lambda r: r[1])
        runs = []
        for _, ts, a, _eid in krows:
            if runs and runs[-1][0] == a:
                runs[-1][2] += 1
            else:
                runs.append([a, ts, 1])
        for i, (a, ts0, n) in enumerate(runs):
            nxt = runs[i + 1][1] if i + 1 < len(runs) else None
            expected.append((k, i + 1, a, ts0, nxt, n))
    assert got == sorted(expected)


texts_strategy = st.lists(
    st.lists(
        st.sampled_from("alpha beta gamma delta epsilon zeta eta theta".split()),
        min_size=0,
        max_size=12,
    ).map(" ".join),
    min_size=1,
    max_size=14,
)


@given(texts_strategy)
@SETTINGS
def test_lsh_dedup_pipeline_invariants(spark, texts):
    """Structural invariants on random corpora: exactly one row per doc,
    exactly one canonical per cluster, cluster_size consistent with the
    actual member count, cluster_id is the min member id, and exact
    duplicates always share a cluster."""
    from covid19_spark.operators.dedup import lsh_dedup_pipeline

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    out = lsh_dedup_pipeline(df, "doc_id", "text").collect()
    assert sorted(r.doc_id for r in out) == list(range(len(texts)))
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        assert cid == min(m.doc_id for m in members)
        assert sum(m.is_canonical for m in members) == 1
        assert all(m.cluster_size == len(members) for m in members)
    # exact duplicates (identical non-trivial text => jaccard 1) co-cluster
    first_by_text = {}
    cluster_of = {r.doc_id: r.cluster_id for r in out}
    for i, t in enumerate(texts):
        if len(t.split()) >= 3:
            if t in first_by_text:
                assert cluster_of[i] == cluster_of[first_by_text[t]], (i, t)
            else:
                first_by_text[t] = i


@given(texts_strategy)
@SETTINGS
def test_incremental_screen_matches_python_model(spark, texts):
    """The incremental screen agrees with a pure-Python exhaustive model on
    random corpora (exact-dup flag, near-dup target, keep verdict)."""
    from covid19_spark.operators.dedup import incremental_dedup_against_corpus

    rows = list(enumerate(texts))
    corpus = [(i, t) for i, t in rows if i % 2 == 0]
    batch = [(i, t) for i, t in rows if i % 2 == 1]
    if not batch or not corpus:
        return
    cdf = spark.createDataFrame(corpus, ["doc_id", "text"])
    bdf = spark.createDataFrame(batch, ["doc_id", "text"])
    got = {
        r.doc_id: r
        for r in incremental_dedup_against_corpus(
            cdf, bdf, "doc_id", "text"
        ).collect()
    }

    def shingles(t):
        toks = t.lower().split(" ")
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)} if len(toks) >= 3 else set()

    corpus_texts = {t for _, t in corpus}
    for bid, bt in batch:
        exact = int(bt in corpus_texts)
        jac = {}
        for cid, ct in corpus:
            bs, cs = shingles(bt), shingles(ct)
            if bs | cs:
                jac[cid] = len(bs & cs) / len(bs | cs)
        r = got[bid]
        # md5 exact-dup flag is deterministic — always asserted
        assert r.is_exact_dup == exact, (bid, bt)
        # PRECISION is exact (candidates are verified with true Jaccard): any
        # reported near-dup must really be >= threshold, and the reported
        # target must be a true hit
        if r.near_dup_of != -1:
            assert jac.get(r.near_dup_of, 0.0) >= 0.5, (bid, r.near_dup_of)
            assert r.best_jaccard >= 0.5
        # RECALL is only probabilistically guaranteed; assert it where the
        # banding makes a miss essentially impossible (j >= 0.9 =>
        # P(miss) = (1-0.9^4)^8 ~ 2e-5) — never for borderline pairs
        high = [cid for cid, j in jac.items() if j >= 0.9]
        if high:
            assert r.near_dup_of != -1, (bid, bt, high)
            assert r.near_dup_of <= min(high)
        assert r.keep == int(exact == 0 and r.near_dup_of == -1)


# --- codec round-trip properties (no Spark session needed) -------------------

import numpy as np  # noqa: E402
import pytest  # noqa: E402

CODEC_SETTINGS = settings(max_examples=12, deadline=None, derandomize=True)


@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    ftype=st.integers(min_value=0, max_value=4),
)
@CODEC_SETTINGS
def test_png_roundtrip_property(h, w, seed, ftype):
    """decode(encode(img)) == img for arbitrary sizes, pixels, and scanline
    filter types — the PNG pipeline is lossless by construction."""
    from covid19_spark.operators.multimodal import decode_png, encode_png

    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img, filter_type=ftype)), img)


@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@CODEC_SETTINGS
def test_png_adam7_equals_sequential_property(h, w, seed):
    """Adam7 interlace is outside the supported PNG profile: an interlaced
    header is refused for every (h, w) — including sizes where several of
    the 7 passes are empty — while the sequential encoding of the same
    pixels decodes exactly."""
    import struct
    import zlib

    from covid19_spark.operators.multimodal import PNG_SIG, decode_png, encode_png

    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    raw = b"".join(b"\x00" + img[r].tobytes() for r in range(h))
    interlaced = (
        PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError, match="interlace"):
        decode_png(interlaced)
    assert np.array_equal(decode_png(encode_png(img)), img)


@given(
    h=st.integers(min_value=8, max_value=40),
    w=st.integers(min_value=8, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    quality=st.integers(min_value=50, max_value=95),
    sub=st.sampled_from(["444", "420"]),
)
@settings(max_examples=8, deadline=None, derandomize=True)
def test_jpeg_progressive_equals_baseline_property(h, w, seed, quality, sub):
    """For any image/quality/subsampling, the progressive encoding decodes
    bit-identically to the baseline encoding (shared quantized
    coefficients) — a full-pipeline consistency oracle over the entire
    Annex G scan machinery."""
    from covid19_spark.operators.jpeg import decode_jpeg, encode_jpeg

    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    base = decode_jpeg(encode_jpeg(img, quality=quality, subsampling=sub))
    prog = decode_jpeg(
        encode_jpeg(img, quality=quality, subsampling=sub, progressive=True)
    )
    assert np.array_equal(base, prog)


@given(
    n=st.integers(min_value=1, max_value=2000),
    ch=st.integers(min_value=1, max_value=2),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@CODEC_SETTINGS
def test_wav_roundtrip_property(n, ch, seed):
    from covid19_spark.operators.multimodal import decode_wav, encode_wav

    samples = np.random.default_rng(seed).integers(
        -32768, 32768, size=(n, ch), dtype=np.int16
    )
    out, r = decode_wav(encode_wav(samples))
    assert r == 8000 and out.shape == (n, ch)
    assert np.array_equal((out * 32768.0).astype(np.int16), samples)


@given(
    n=st.integers(min_value=1, max_value=2000),
    law=st.sampled_from(["alaw", "mulaw"]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@CODEC_SETTINGS
def test_g711_companding_error_bound_property(n, law, seed):
    """G.711 (A-law format 6, mu-law format 7) is outside the supported WAV
    profile: a companded file of any length is refused at the format seam
    with NotImplementedError."""
    from covid19_spark.operators.multimodal import decode_wav
    from tests.media_gen import riff_wav

    fmt_tag = {"alaw": 6, "mulaw": 7}[law]
    data = np.random.default_rng(seed).integers(0, 256, n, dtype=np.uint8).tobytes()
    with pytest.raises(NotImplementedError, match=f"compressed WAV format {fmt_tag}"):
        decode_wav(riff_wav(fmt_tag, 8, data))


# --- connected components vs union-find reference ----------------------------


@given(
    raw_edges=st.lists(
        st.tuples(st.integers(min_value=0, max_value=25), st.integers(min_value=0, max_value=25)),
        min_size=1,
        max_size=35,
    )
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)
def test_connected_components_match_union_find(spark, raw_edges):
    """Both CC algorithms (min-label propagation AND large-star/small-star)
    must produce exactly the min-reachable-id labeling a plain union-find
    computes, on arbitrary random graphs including self-loops, duplicate
    edges, and both orientations."""
    from covid19_spark.operators.dedup import connected_components

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for u, v in raw_edges:
        union(u, v)
    expected = {n: find(n) for n in parent}

    edges = spark.createDataFrame(raw_edges, "src long, dst long")
    got = {r.node: r.comp for r in connected_components(edges).collect()}
    assert got == expected


@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    pred=st.integers(min_value=1, max_value=7),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@CODEC_SETTINGS
def test_lossless_jpeg_roundtrip_property(h, w, pred, seed):
    """SOF3 lossless JPEG must round-trip EVERY image bit-exactly — the
    defining property of the format, for arbitrary pixel content (where the
    lossy paths only bound error). Predictor 4 is the supported one: the
    same stream declaring any other predictor is refused."""
    from covid19_spark.operators.jpeg import decode_jpeg, encode_jpeg_lossless

    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    payload = encode_jpeg_lossless(img)
    assert np.array_equal(decode_jpeg(payload), img)
    if pred != 4:
        other = bytearray(payload)
        other[payload.index(b"\xff\xda") + 4 + 1 + 2 * 3] = pred
        with pytest.raises(NotImplementedError, match="predictor"):
            decode_jpeg(bytes(other))


@given(
    h=st.integers(min_value=1, max_value=20),
    w=st.integers(min_value=1, max_value=20),
    ncolors=st.integers(min_value=1, max_value=256),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@CODEC_SETTINGS
def test_gif_roundtrip_property(h, w, ncolors, seed):
    """decode(encode(img)) == img for arbitrary sizes and palette sizes —
    GIF LZW is lossless within its 256-color bound, including single-color
    KwKwK chains and palettes straddling code-width boundaries."""
    from covid19_spark.operators.multimodal import decode_gif, encode_gif

    rng = np.random.default_rng(seed)
    cols = np.unique(rng.integers(0, 256, (ncolors, 3), dtype=np.uint8), axis=0)
    img = cols[rng.integers(0, len(cols), (h, w))]
    assert np.array_equal(decode_gif(encode_gif(img)), img)


@given(
    n=st.integers(min_value=1, max_value=2000),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@CODEC_SETTINGS
def test_ms_adpcm_length_and_seed_property(n, seed):
    """Microsoft ADPCM (format 2) is outside the supported WAV profile: a
    file of any length is refused at the format seam with
    NotImplementedError."""
    from covid19_spark.operators.multimodal import decode_wav
    from tests.media_gen import riff_wav

    data = np.random.default_rng(seed).integers(0, 256, n, dtype=np.uint8).tobytes()
    with pytest.raises(NotImplementedError, match="compressed WAV format 2"):
        decode_wav(riff_wav(2, 4, data))


@given(
    h=st.integers(min_value=1, max_value=20),
    w=st.integers(min_value=1, max_value=20),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    quality=st.integers(min_value=50, max_value=95),
)
@CODEC_SETTINGS
def test_jpeg_12bit_progressive_equals_sequential_property(h, w, seed, quality):
    """12-bit DCT frames are outside the supported profile: for every
    size/quality, the sequential and progressive encodings decode
    bit-identically at 8 bits, and the same streams declared 12-bit are
    refused."""
    from covid19_spark.operators.jpeg import decode_jpeg, encode_jpeg

    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    seq = encode_jpeg(img, quality=quality)
    prog = encode_jpeg(img, quality=quality, progressive=True)
    assert np.array_equal(decode_jpeg(seq), decode_jpeg(prog))
    for payload, marker in ((seq, b"\xff\xc0"), (prog, b"\xff\xc2")):
        deep = bytearray(payload)
        deep[payload.index(marker) + 4] = 12
        with pytest.raises(NotImplementedError, match="12-bit"):
            decode_jpeg(bytes(deep))


@given(
    h=st.integers(min_value=1, max_value=16),
    w=st.integers(min_value=1, max_value=16),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    predictor=st.integers(min_value=1, max_value=7),
    precision=st.sampled_from([8, 12, 16]),
)
@CODEC_SETTINGS
def test_lossless_jpeg_precision_roundtrip_property(h, w, seed, predictor, precision):
    """Lossless SOF3 is bit-exact for arbitrary RGB images whose samples fit
    8, 12 or 16 bits — the frame precision follows the dtype (8 for uint8,
    16 for uint16), including mod-2^16 wrap diffs — and any predictor but 4
    is refused."""
    from covid19_spark.operators.jpeg import decode_jpeg, encode_jpeg_lossless

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 1 << precision, (h, w, 3), dtype=np.uint16)
    if precision == 8:
        img = img.astype(np.uint8)
    payload = encode_jpeg_lossless(img)
    assert np.array_equal(decode_jpeg(payload), img)
    if predictor != 4:
        other = bytearray(payload)
        other[payload.index(b"\xff\xda") + 4 + 1 + 2 * 3] = predictor
        with pytest.raises(NotImplementedError, match="predictor"):
            decode_jpeg(bytes(other))


@given(
    h=st.integers(min_value=1, max_value=20),
    w=st.integers(min_value=1, max_value=20),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    comp=st.sampled_from(["none", "packbits", "lzw"]),
    rps=st.integers(min_value=1, max_value=8),
)
@CODEC_SETTINGS
def test_tiff_roundtrip_property(h, w, seed, comp, rps):
    """decode(encode(img)) == img for arbitrary sizes, strip heights, and
    every baseline compression — PackBits literal/run boundaries and LZW
    early-change widths included."""
    from covid19_spark.operators.multimodal import decode_tiff, encode_tiff

    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    got = decode_tiff(encode_tiff(img, compression=comp, rows_per_strip=rps))
    assert np.array_equal(got, img)


@given(
    st.integers(1, 40), st.integers(1, 80), st.integers(0, 2**32 - 1),
    st.sampled_from([0.05, 0.5, 0.95]),
)
@settings(max_examples=40, deadline=None)
def test_g3_uncompressed_roundtrip_property(h, w, seed, density):
    """T.4 uncompressed-mode escape: for ANY bitmap shape/density, 1D G3
    with uncompressed=True round-trips bit-exactly and never produces a
    LONGER stream than plain coding (the escape is taken only when strictly
    shorter); 2D-coded G3 round-trips without it."""
    import numpy as np

    from covid19_spark.operators.ccitt import g3_decode, g3_encode

    rng = np.random.default_rng(seed)
    bm = (rng.random((h, w)) < density).astype(np.uint8)
    plain = g3_encode(bm)
    unc = g3_encode(bm, uncompressed=True)
    assert len(unc) <= len(plain)
    assert np.array_equal(g3_decode(unc, w, h), bm)
    assert np.array_equal(g3_decode(plain, w, h), bm)
    two_d = g3_encode(bm, two_d=True)
    assert np.array_equal(g3_decode(two_d, w, h, two_d=True), bm)


words_st = st.sampled_from(["a", "b", "c", "d"])
corpus_st = st.lists(
    st.lists(words_st, min_size=0, max_size=12), min_size=1, max_size=6
)
phrase_st = st.lists(words_st, min_size=2, max_size=3)


@given(corpus_st, phrase_st)
@SETTINGS
def test_positional_retrieval_matches_python_model(spark, corpus, terms):
    """Proximity retrieval from the positional index vs the direct
    position-fold model: for every random corpus, proximity (slop 2)
    counts exactly the model's distinct match-end positions."""
    import shutil
    import tempfile

    from covid19_spark.operators.retrieval import proximity_match_from_index
    from covid19_spark.sources.index import (
        build_inverted_index_from, read_inverted_index,
    )

    def model(doc_words, terms, slop=2):
        pos: dict[str, list[int]] = {}
        for i, w in enumerate(doc_words):
            pos.setdefault(w, []).append(i)
        cur = list(pos.get(terms[0], []))
        for t in terms[1:]:
            cur = [
                q for q in pos.get(t, [])
                if any(1 <= q - p <= slop + 1 for p in cur)
            ]
        return len(cur)

    docs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(corpus)],
        "doc_id long, text string",
    )
    path = tempfile.mkdtemp(prefix="proptest_idx_")
    try:
        build_inverted_index_from(docs, path)
        idx = read_inverted_index(spark, path)
        got = {
            r.doc_id: r.n_matches
            for r in proximity_match_from_index(spark, idx, terms).collect()
        }
        want = {
            i: model(ws, terms)
            for i, ws in enumerate(corpus)
            if model(ws, terms) > 0
        }
        assert got == want
    finally:
        shutil.rmtree(path, ignore_errors=True)


@given(
    corpus_st,
    st.lists(
        st.lists(words_st, min_size=1, max_size=3), min_size=1, max_size=3
    ),
)
@SETTINGS
def test_bm25_multi_matches_single_property(spark, corpus, query_terms):
    """Batched BM25 == per-query BM25, bit-for-bit, on random corpora and
    random term lists (the DEC-associativity claim under arbitrary data,
    including repeated terms within a query and shared terms across
    queries)."""
    import shutil
    import tempfile

    from covid19_spark.operators.retrieval import (
        bm25_scores_from_index, bm25_topk_multi,
    )
    from covid19_spark.sources.index import (
        build_inverted_index_from, read_inverted_index,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(corpus)],
        "doc_id long, text string",
    )
    path = tempfile.mkdtemp(prefix="proptest_bm25_")
    try:
        build_inverted_index_from(docs, path)
        idx = read_inverted_index(spark, path)
        queries = spark.createDataFrame(
            [(qi, terms) for qi, terms in enumerate(query_terms)],
            "query_id long, terms array<string>",
        )
        multi = {}
        for r in bm25_topk_multi(spark, idx, queries).collect():
            multi.setdefault(r.query_id, {})[r.doc_id] = r.score
        for qi, terms in enumerate(query_terms):
            single = {
                r.doc_id: r.score
                for r in bm25_scores_from_index(spark, idx, terms).collect()
            }
            assert multi.get(qi, {}) == single
    finally:
        shutil.rmtree(path, ignore_errors=True)
