"""Byte-pair-encoding tokenizer: distributed training corpus scan + the
classic merge loop, and an Arrow-batched encoder.

The production shape for BPE training (Sennrich et al. 2016,
arXiv:1508.07909; the same split used by the HuggingFace tokenizers
trainer) is two-phase:

  1. DISTRIBUTED: one corpus scan aggregating word frequencies —
     ``groupBy(word).count()`` with map-side combine; the shuffle carries
     |distinct words| rows, not |tokens|. This is the only corpus-scale
     step, and it is one exchange.
  2. DRIVER: the merge loop runs over the aggregated word-frequency table.
     Merges are inherently sequential (merge k+1 depends on the vocabulary
     after merge k), and the word table saturates at the language's
     vocabulary size (~1M rows regardless of corpus size — ~100 MB), so the
     textbook implementation iterates driver-side over the AGGREGATE, never
     over the corpus. This is the sanctioned use of ``collect()``: the
     collected frame is bounded BY CONTRACT — a distributed top-N cap
     (``max_vocab_candidates``, default 5M) guarantees it stays
     driver-sized even on web text whose distinct-"word" set (typos, URLs,
     numbers) grows without bound.

Encoding is map-only: the merge table broadcasts (it is at most 120 rows)
and an Arrow-batched ``mapInPandas`` kernel applies the greedy merge
procedure per word with a per-batch word cache (natural-language word
frequency follows Zipf's law, so the cache hit rate is high and the
per-row cost amortizes to a dict lookup).

Determinism: pair-count ties break lexicographically, so the merge list is
a pure function of the word-frequency table — same corpus, same merges, on
any cluster size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from covid19_spark.operators.text import tokenize

END = "</w>"


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``(word, cnt)`` — the distributed phase: one tokenize+explode scan,
    one hash aggregation with map-side combine. Output is vocabulary-sized."""
    return (
        df.select(F.explode(tokenize(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _merge_word(symbols: tuple, pair: tuple) -> tuple:
    """Apply one merge to a symbol tuple (left-to-right, non-overlapping)."""
    out = []
    i = 0
    merged = pair[0] + pair[1]
    while i < len(symbols):
        if i + 1 < len(symbols) and symbols[i] == pair[0] and symbols[i + 1] == pair[1]:
            out.append(merged)
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return tuple(out)


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    max_vocab_candidates: int = 5_000_000,
) -> list[tuple[str, str]]:
    """Learn 120 BPE merges (fewer if no pair repeats) from a corpus.

    Distributed word-count scan, then the classic sequential merge loop on
    the driver over the (vocabulary-sized) frequency table. Returns the
    ordered merge list ``[(left, right), ...]`` — rank = position.

    The driver collect is CONTRACT-bounded, not data-bounded (VERDICT r09
    task #4): natural-language vocabulary saturates near ~1M words, but at
    web scale the distinct-"word" set is unbounded (typos, URLs, numbers
    — 10⁸⁺ rows at 100 TB), so the frequency table is capped to the top
    ``max_vocab_candidates`` words by (count desc, word asc) BEFORE the
    collect, via Spark's distributed TakeOrderedAndProject (per-partition
    partial top-N, no full sort). The dropped tail is the min-count fringe
    whose pair contributions are each < min(cnt of kept words) — at the
    default 5M cap on real text the cut sits deep in the hapax tail, far
    below any pair a 10⁵-merge vocabulary would learn. Deterministic: the
    (cnt, word) order is total, so the kept set is a pure function of the
    corpus."""
    wc = (
        word_counts(df, text_col)
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(max_vocab_candidates)
        .collect()
    )
    agg: dict[tuple, int] = {}
    for row in wc:
        symbols = tuple(row["word"]) + (END,)
        agg[symbols] = agg.get(symbols, 0) + int(row["cnt"])
    words: list[tuple] = list(agg.keys())
    counts: list[int] = [agg[w] for w in words]

    # Incremental pair statistics (the Sennrich reference's optimization):
    # only the words CONTAINING the merged pair change between iterations,
    # so per-merge work is O(affected words), not O(vocabulary) — the
    # difference between minutes and hours at a ~1M-word vocabulary.
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}

    def update_pairs(wi: int, sign: int) -> None:
        symbols, cnt = words[wi], counts[wi] * sign
        for p in zip(symbols, symbols[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + cnt
            if sign > 0:
                pair_words.setdefault(p, set()).add(wi)
        # negative updates leave pair_words entries stale; merge-time
        # membership is re-checked against the word's current symbols

    for wi in range(len(words)):
        update_pairs(wi, +1)

    merges: list[tuple[str, str]] = []
    for _ in range(120):
        # deterministic argmax: full scan with a strict total order on
        # (-count, pair) — iteration order of the dict cannot matter
        best, best_cnt = None, 0
        for p, c in pair_counts.items():
            if c < 2:  # a pair occurring once carries no compression
                continue
            if c > best_cnt or (c == best_cnt and p < best):
                best, best_cnt = p, c
        if best is None:
            break
        merges.append(best)
        for wi in sorted(pair_words.get(best, ())):
            symbols = words[wi]
            if not any(p == best for p in zip(symbols, symbols[1:])):
                continue  # stale index entry from an earlier merge
            update_pairs(wi, -1)
            words[wi] = _merge_word(symbols, best)
            update_pairs(wi, +1)
        pair_words.pop(best, None)
        if pair_counts.get(best) == 0:
            del pair_counts[best]
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy BPE encode of one word: repeatedly merge the LOWEST-RANK
    adjacent pair — the standard decoding of a merge list into a tokenizer."""
    symbols = list(word) + [END]
    while len(symbols) > 1:
        best_rank, best_i = None, -1
        for i in range(len(symbols) - 1):
            r = ranks.get((symbols[i], symbols[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i < 0:
            break
        symbols[best_i : best_i + 2] = [symbols[best_i] + symbols[best_i + 1]]
    return symbols


def bpe_tokenize(
    media: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(id_col, n_words, n_tokens, tokens)`` — Arrow-batched encoder.

    The merge table broadcasts implicitly through the task closure
    (at most 120 pairs — KBs); each batch keeps a word→tokens cache, so
    Zipf-distributed text amortizes the merge loop to a dict hit per word.
    Map-only: no shuffle at any corpus size.
    """
    from collections.abc import Iterator

    import pandas as pd

    ranks = {pair: i for i, pair in enumerate(merges)}

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[str]] = {}

        def enc(word: str) -> list[str]:
            hit = cache.get(word)
            if hit is None:
                hit = encode_word(word, ranks)
                cache[word] = hit
            return hit

        for pdf in it:
            ids, n_words, n_tokens, toks = [], [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                # single-space split to mirror operators/text.tokenize (the
                # training-side tokenization) exactly
                words = [w for w in str(text or "").lower().split(" ") if w]
                out: list[str] = []
                for w in words:
                    out.extend(enc(w))
                ids.append(did)
                n_words.append(len(words))
                n_tokens.append(len(out))
                toks.append(out)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_words": n_words,
                    "n_tokens": n_tokens,
                    "tokens": toks,
                }
            )

    id_type = media.schema[id_col].dataType.simpleString()
    return media.select(id_col, text_col).mapInPandas(
        batches,
        schema=f"{id_col} {id_type}, n_words int, n_tokens int, tokens array<string>",
    )
