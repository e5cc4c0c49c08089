"""Text analysis operators for large-scale training-data pipelines.

Tokenizing and token counting, typography normalization, repetition
statistics, shingling, TF-IDF, chunking, document fingerprinting — all pure
``pyspark.sql.functions`` column expressions: JVM-side, whole-stage-codegen'd,
no Python in the hot path. At 100 TB these are embarrassingly parallel
map-only transforms — no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Minimal per-language stopword sets for the registry's heuristic
# language-ID queries.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is"),
    "de": ("der", "die", "und", "das", "ist", "ein"),
    "fr": ("le", "la", "et", "les", "des", "est"),
    "es": ("el", "los", "las", "es", "y", "de"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),  # pinyin-romanized
}


def tokenize(text: Column, lowercase: bool = True) -> Column:
    """Whitespace tokens as ARRAY<STRING> (single-space split)."""
    return F.split(F.lower(text) if lowercase else text, " ")


def token_count(text: Column) -> Column:
    """Whitespace token count (non-empty tokens)."""
    return F.size(F.filter(tokenize(text), lambda t: t != ""))


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, strip non-alnum,
    collapse runs of spaces, trim."""
    cleaned = F.regexp_replace(F.lower(text), "[^a-z0-9 ]", "")
    return F.trim(F.regexp_replace(cleaned, " +", " "))


# --- typographic normalization (content-preserving) ---------------------
# 1:1 character folds applied in ONE F.translate pass: typographic quote
# family -> ASCII quote, prime marks -> quote, dash family + minus sign ->
# '-', and the fixed-width/ideographic space family -> plain space. The
# fullwidth ASCII block (U+FF01..U+FF5E) maps positionally onto printable
# ASCII (U+0021..U+007E) — generated, not hand-typed, so it cannot drift.
_TYPO_FOLD_SRC = (
    "‘’‚‛′"  # single quotes + prime
    "“”„‟″"  # double quotes + double prime
    "‐‑‒–—―−"  # hyphens/dashes/minus
    "     　"  # nbsp/figure/thin/hair/nnbsp/ideographic
)
_TYPO_FOLD_DST = "'''''" + '"""""' + "-------" + "      "
_FULLWIDTH_SRC = "".join(chr(0xFF01 + i) for i in range(0x5E))
_FULLWIDTH_DST = "".join(chr(0x21 + i) for i in range(0x5E))
#: zero-width characters + soft hyphen: deleted outright (they carry no
#: visible content but split tokens and defeat exact/near dedup)
_ZERO_WIDTH_RE = "[​‌‍﻿­]"


def normalize_typography(text: Column) -> Column:
    """Content-preserving typographic normalization — the CCNet/RefinedWeb-
    style cleanup every crawl corpus runs before tokenization and dedup
    (distinct from ``normalize_text``, which is DESTRUCTIVE and only for
    fingerprint keys). Folds curly quotes/primes to ASCII quotes, the
    dash/minus family to ``-``, exotic spaces to plain space, fullwidth
    ASCII to ASCII; deletes zero-width characters and soft hyphens;
    rewrites the ellipsis character to ``...``; collapses whitespace runs
    and trims. Letters outside the folded ranges (accents, CJK, ...) pass
    through untouched. NULL stays NULL. Pure built-in expressions — one
    translate pass + three regexp passes, map-only, codegen-friendly."""
    t = F.translate(text, _TYPO_FOLD_SRC + _FULLWIDTH_SRC, _TYPO_FOLD_DST + _FULLWIDTH_DST)
    t = F.regexp_replace(t, _ZERO_WIDTH_RE, "")
    t = F.regexp_replace(t, "…", "...")
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text,
    truncated to 16 hex chars. The rolling-hash equivalent for
    near-canonical dedup keys."""
    return F.substring(F.md5(normalize_text(text)), 1, 16)


def repetition_stats(df, id_col: str, text_col: str):
    """Gopher-style repetition gates per document (Rae et al. 2021 §A1.3):
    most-frequent-token fraction and duplicate-bigram fraction — the
    standard filters for degenerate/repetitive training text.

    Token counting goes explode → two-level aggregation (partial aggs
    combine map-side; the shuffle carries (doc, token) group rows, linear in
    corpus size — never per-doc O(n²) array scans). The bigram duplicate
    fraction is map-only array math joined back on the doc key.
    """
    # Repartition by doc id first (same as minhash_signatures): a single-file
    # parquet source would pin the CPU-heavy tokenize+explode to 1-2 scan
    # partitions; hash-partitioning also pre-aligns the per-doc aggregations
    # and the bigram join below.
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    df = df.repartition(n_parts, id_col)
    toks = df.select(
        F.col(id_col),
        F.explode(F.filter(tokenize(F.col(text_col)), lambda t: t != "")).alias("tok"),
    )
    tok_counts = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    per_doc = tok_counts.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct_tokens"),
        F.max("c").cast("long").alias("__max_c"),
    )
    sh = word_shingles(F.col(text_col), 2, distinct=False)
    bigrams = df.select(
        F.col(id_col),
        F.when(
            F.size(sh) > 0,
            F.lit(1.0) - F.size(F.array_distinct(sh)) / F.size(sh),
        ).alias("dup_bigram_frac"),
    )
    return per_doc.join(bigrams, id_col).select(
        id_col,
        "n_tokens",
        "n_distinct_tokens",
        (F.col("__max_c") / F.col("n_tokens")).alias("max_token_frac"),
        "dup_bigram_frac",
    )


def word_shingles(text: Column, n: int = 2, distinct: bool = True) -> Column:
    """Distinct word n-gram shingles (1-indexed ``element_at`` windows) —
    the unit set for Jaccard/MinHash similarity.

    Docs with fewer than ``n`` tokens yield an empty array: ``sequence(1, 0)``
    steps downward ([1, 0]) in Spark, so the window indices are only built
    under a ``size >= n`` guard (CASE branches evaluate lazily per row).
    """
    toks = tokenize(text)

    def grams(t: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(t) - (n - 1))
        gram = lambda i: F.concat_ws(" ", *[F.element_at(t, i + j) for j in range(n)])  # noqa: E731
        return F.when(F.size(t) >= n, F.transform(idx, gram)).otherwise(
            F.array().cast("array<string>")
        )

    # Bind the token array to a lambda variable (1-element array + transform)
    # so the split() runs once per row: codegen does NOT share common
    # subexpressions inside higher-order-function lambdas, and inlining
    # `toks` into every element_at re-splits the text O(n·len) times per row
    # (measured ~6x on the shingle-explode stage).
    sh = F.flatten(F.transform(F.array(toks), grams))
    return F.array_distinct(sh) if distinct else sh


def tf_idf_top_terms(
    docs: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Per-document top-3 terms by TF-IDF.

    The idf is the rational (N+1)/(df+1), not the textbook
    ln((N+1)/(df+1)): same exact-int inputs, one double division,
    reproducible bit-for-bit across engines (ln() differs in the last ulp
    between libm implementations).

    Plan (100 TB): explode → (doc, term) partial-agg counts; document
    frequency is a second partial agg keyed by term; the tf⋈df join is a
    key-key shuffle join on term (both sides pre-aggregated — |doc-term|
    and |vocab| rows, far below corpus token count); the corpus size N is
    one broadcast scalar row. Final per-doc top-3 is a rank window on the
    doc key.
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(F.filter(tokenize(F.col(text_col)), lambda t: t != "")).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.countDistinct(F.col(id_col)).alias("__n"))
    idf = (F.col("__n") + F.lit(1)) / (F.col("df") + F.lit(1))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            "tf",
            "df",
            (F.col("tf") * idf).alias("score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(id_col, "rank", "term", F.col("tf").cast("long").alias("tf"),
                F.col("df").cast("long").alias("df"), "score")
    )


def chunk_documents(
    docs: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Split documents into 32-token windows that overlap by 16 — the
    context-window chunking step of an LLM training/retrieval pipeline.

    Chunk i covers tokens ``[16·i, 16·i + 32)``. Chunks start at every
    multiple ``s`` of 16 with ``s == 0`` or ``s + 16 < n_tokens`` —
    the second condition drops trailing starts whose window would be fully
    contained in the previous chunk, while guaranteeing every token appears
    in at least one chunk. Empty documents produce no chunks.

    Tokens are non-empty single-space splits of the raw text (case
    preserved), so ``concat_ws`` reconstructs the exact chunk text for
    single-spaced input.

    Scale: map-only — scan → project → posexplode → project; no shuffle, no
    Python. Output rows ≈ n_tokens/16 per doc regardless of corpus size,
    so this runs at 100 TB as a pure streaming map over parquet splits.

    Output: id_col, chunk_id (0-based LONG), chunk_text, chunk_n_tokens.
    """
    toks = F.filter(tokenize(F.col(text_col), lowercase=False), lambda t: t != "")
    with_toks = docs.select(F.col(id_col), toks.alias("__t")).filter(
        F.size("__t") > 0
    )
    n = F.size("__t")
    starts = F.filter(
        F.sequence(F.lit(0), n - 1, F.lit(16)),
        lambda s: (s == 0) | (s + 16 < n),
    )
    return with_toks.select(
        F.col(id_col),
        F.posexplode(starts).alias("chunk_id", "__s"),
        F.col("__t"),
    ).select(
        F.col(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.concat_ws(" ", F.slice("__t", F.col("__s") + 1, 32)).alias(
            "chunk_text"
        ),
        F.least(F.lit(32), F.size("__t") - F.col("__s"))
        .cast("long")
        .alias("chunk_n_tokens"),
    )


def dedup_paragraphs(text: Column) -> Column:
    """Order-preserving intra-document paragraph dedup: split on blank
    lines (``\\n\\n``),
    keep only the FIRST occurrence of each paragraph, rejoin — the
    MassiveText/RefinedWeb cleanup for boilerplate repeated inside one
    document (nav blocks, footers), complementary to corpus-level
    ``line_dedup`` (which removes lines frequent ACROSS documents).

    Pure higher-order array expressions (split / filter-with-index /
    slice / array_position / array_join): JVM-side, map-only, zero
    shuffle. Per-row cost is O(paragraphs²) string compares — paragraphs
    per document are bounded (hundreds), so this is embarrassingly
    parallel at 100 TB where a groupBy-based formulation would shuffle
    the whole corpus. Empty paragraphs (separator runs) are dropped.
    NULL stays NULL."""
    import re as _re

    sep = "\n\n"
    paras = F.filter(F.split(text, _re.escape(sep)), lambda p: p != "")
    kept = F.filter(
        paras,
        lambda p, i: F.array_position(F.slice(paras, F.lit(1), i), p) == 0,
    )
    return F.array_join(kept, sep)


def compression_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id_col, n_bytes, z_bytes, ratio)`` — DEFLATE compression ratio
    per document, the Gopher-family repetitiveness signal (Rae et al. 2021
    arXiv:2112.11446 §A1 uses repetition fractions; the compression-ratio
    form is the cheap proxy CCNet-style pipelines apply at ingest): highly
    repetitive/boilerplate text compresses far below normal prose, natural
    text sits near ~0.4-0.7 at paragraph length.

    Arrow-batched ``mapInPandas`` (zlib level 6 — the one Python kernel
    this signal needs; the stream is stdlib zlib, available everywhere and
    deterministic for a fixed library, which the checked-in fixture pins).
    Map-only: no shuffle at any corpus size."""
    from collections.abc import Iterator

    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        for pdf in it:
            raw = [str(t or "").encode("utf-8") for t in pdf[text_col]]
            n = [len(b) for b in raw]
            z = [len(zlib.compress(b, 6)) for b in raw]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": pd.Series(n, dtype="int64"),
                    "z_bytes": pd.Series(z, dtype="int64"),
                    "ratio": [
                        (zz / nn) if nn else 1.0 for zz, nn in zip(z, n)
                    ],
                }
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInPandas(
        batches,
        schema=f"{id_col} {id_type}, n_bytes long, z_bytes long, ratio double",
    )
