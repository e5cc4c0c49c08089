"""Unigram-LM subword tokenizer (Kudo 2018, arXiv:1804.10959 — the
SentencePiece ``unigram`` model): seed-substring vocabulary, Viterbi-EM
fitting, prune-to-size, and an Arrow-batched Viterbi encoder.

Split mirrors ``operators/bpe.py`` exactly (same sanctioned two-phase
shape, VERDICT r09 task #4):

  1. DISTRIBUTED: one corpus scan aggregating word frequencies
     (``bpe.word_counts`` — map-side combined, vocabulary-sized output),
     capped to the top 5M rows by (count desc, word asc) BEFORE the
     collect, so the driver frame is bounded by contract even on web text
     whose distinct-"word" set grows without bound.
  2. DRIVER: seed extraction + EM + pruning run over that aggregate. EM
     is inherently sequential (each iteration's expected counts depend on
     the previous iteration's probabilities) and touches only the capped
     word table — the textbook implementation iterates driver-side over
     the AGGREGATE, never over the corpus.

Encoding is map-only: the (piece, logprob) table ships in the task closure
(vocab-sized — KBs) and an Arrow-batched ``mapInPandas`` kernel Viterbi-
segments per word with a per-batch word cache (Zipf amortization), no
shuffle at any corpus size.

Determinism: the whole pipeline is a pure function of the word-frequency
table — seed scores tie-break on (score desc, piece asc), Viterbi
tie-breaks prefer the LONGER last piece then the lexicographically
smaller one, and EM/pruning iterate over sorted piece lists. Same corpus,
same vocab, on any cluster size.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from covid19_spark.operators.bpe import word_counts

UNK_LOGPROB = -100.0  # byte-fallback score for chars unseen at training
MAX_PIECE_LEN = 6


def _viterbi(word: str, logp: dict[str, float]) -> tuple[list[str], float]:
    """Best segmentation of ``word`` into pieces of at most ``MAX_PIECE_LEN``
    chars under a unigram LM.

    dp over prefix lengths; ties prefer the longer last piece, then the
    lexicographically smaller one — a strict total order, so the
    segmentation is deterministic and identical between the trainer's
    E-step and the distributed encoder (they share this function).
    Characters absent from the vocab segment as themselves at
    ``UNK_LOGPROB`` (byte-fallback), so encoding never fails.
    """
    n = len(word)
    # dp[i] = (score, last_piece_len) for word[:i]
    dp: list[tuple[float, int]] = [(0.0, 0)] + [(-math.inf, 0)] * n
    for i in range(1, n + 1):
        best_score, best_len, best_piece = -math.inf, 0, ""
        lo = max(0, i - MAX_PIECE_LEN)
        for j in range(lo, i):
            piece = word[j:i]
            lp = logp.get(piece)
            if lp is None:
                if i - j == 1:  # single-char fallback keeps the lattice connected
                    lp = UNK_LOGPROB
                else:
                    continue
            cand = dp[j][0] + lp
            if (
                cand > best_score
                or (
                    cand == best_score
                    and (
                        i - j > best_len
                        or (i - j == best_len and piece < best_piece)
                    )
                )
            ):
                best_score, best_len, best_piece = cand, i - j, piece
        dp[i] = (best_score, best_len)
    pieces: list[str] = []
    i = n
    while i > 0:
        ln = dp[i][1]
        pieces.append(word[i - ln : i])
        i -= ln
    pieces.reverse()
    return pieces, dp[n][0]


def train_unigram(
    df: DataFrame,
    text_col: str = "text",
) -> list[tuple[str, float]]:
    """Learn a 300-piece unigram-LM vocabulary from a corpus.

    Seed: every substring of every word up to ``MAX_PIECE_LEN``, scored by
    occurrence-count × word-frequency; all seen single chars are kept
    unconditionally (coverage guarantee), multi-char seeds keep the top
    2400 (8 × 300). Fit: Viterbi (hard) EM, two rounds at a time —
    expected counts from each word's best segmentation, weighted by word
    frequency — alternating with pruning multi-char pieces by fitted count
    (to 3/4 per step) until the vocabulary reaches 300.  The
    word table is capped to the 5M most frequent words (the ``train_bpe``
    collect bound).

    Returns ``[(piece, logprob), ...]`` sorted by piece.
    """
    rows = (
        word_counts(df, text_col)
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(5_000_000)
        .collect()
    )
    words: list[tuple[str, int]] = sorted((r["word"], int(r["cnt"])) for r in rows)

    # ---- seed vocabulary -------------------------------------------------
    seed_scores: dict[str, int] = {}
    chars: set[str] = set()
    for word, cnt in words:
        chars.update(word)
        n = len(word)
        for i in range(n):
            for ln in range(1, min(MAX_PIECE_LEN, n - i) + 1):
                piece = word[i : i + ln]
                seed_scores[piece] = seed_scores.get(piece, 0) + cnt
    multi = sorted(
        ((p, s) for p, s in seed_scores.items() if len(p) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )[:2400]
    vocab: dict[str, float] = {}
    total = float(sum(s for _, s in seed_scores.items())) or 1.0
    for c in chars:
        vocab[c] = math.log(seed_scores[c] / total)
    for p, s in multi:
        vocab[p] = math.log(s / total)

    # ---- Viterbi-EM with interleaved pruning -----------------------------
    def em_round(logp: dict[str, float]) -> dict[str, float]:
        counts: dict[str, float] = {}
        for word, cnt in words:
            pieces, _ = _viterbi(word, logp)
            for p in pieces:
                counts[p] = counts.get(p, 0.0) + cnt
        tot = sum(counts.values()) or 1.0
        out: dict[str, float] = {}
        for p in sorted(logp):
            c = counts.get(p, 0.0)
            # unused single chars stay at a floor count (coverage); unused
            # multi-char pieces are pruned by the caller
            if c == 0.0 and len(p) == 1:
                c = 0.5
            if c > 0.0:
                out[p] = math.log(c / tot)
        return out

    n_single = len(chars)
    target_multi = max(0, 300 - n_single)
    while True:
        for _ in range(2):
            vocab = em_round(vocab)
        multi_now = sorted(
            ((p, lp) for p, lp in vocab.items() if len(p) > 1),
            key=lambda kv: (-kv[1], kv[0]),  # logprob desc = fitted count desc
        )
        if len(multi_now) <= target_multi:
            break
        keep = max(target_multi, int(len(multi_now) * 0.75))
        kept = dict(multi_now[:keep])
        vocab = {p: lp for p, lp in vocab.items() if len(p) == 1 or p in kept}
    return sorted(vocab.items())


def unigram_tokenize(
    media: DataFrame,
    vocab: list[tuple[str, float]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(id_col, n_words, n_tokens, nll, tokens)`` — Arrow-batched Viterbi
    encoder under a trained unigram LM (pieces of at most ``MAX_PIECE_LEN``
    chars).

    The vocab ships in the task closure (vocab-sized — KBs); each batch
    keeps a word→segmentation cache. Map-only: no shuffle at any corpus
    size. ``nll`` is the word-sum of best-path negative log-likelihoods —
    the LM-quality signal SentencePiece exposes per sentence.
    """
    from collections.abc import Iterator

    import pandas as pd

    logp = dict(vocab)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, tuple[list[str], float]] = {}

        def enc(word: str) -> tuple[list[str], float]:
            hit = cache.get(word)
            if hit is None:
                hit = _viterbi(word, logp)
                cache[word] = hit
            return hit

        for pdf in it:
            ids, n_words, n_tokens, nlls, toks = [], [], [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                # single-space split mirrors operators/text.tokenize (the
                # training-side tokenization) exactly
                ws = [w for w in str(text or "").lower().split(" ") if w]
                out: list[str] = []
                nll = 0.0
                for w in ws:
                    pieces, score = enc(w)
                    out.extend(pieces)
                    nll -= score
                ids.append(did)
                n_words.append(len(ws))
                n_tokens.append(len(out))
                nlls.append(nll)
                toks.append(out)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_words": n_words,
                    "n_tokens": n_tokens,
                    "nll": nlls,
                    "tokens": toks,
                }
            )

    id_type = media.schema[id_col].dataType.simpleString()
    return media.select(id_col, text_col).mapInPandas(
        batches,
        schema=(
            f"{id_col} {id_type}, n_words int, n_tokens int, "
            "nll double, tokens array<string>"
        ),
    )
