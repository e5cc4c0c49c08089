"""BPE tokenizer: merge-learning semantics pinned on the classic corpus
from Sennrich et al. 2016, distributed/local encoder equivalence, and the
lossless-reconstruction property."""

import numpy as np
import pytest

from covid19_spark.operators.bpe import (
    END,
    bpe_tokenize,
    encode_word,
    train_bpe,
    word_counts,
)


def _paper_corpus(spark):
    # the worked example from the BPE paper: low x5, lower x2, newest x6,
    # widest x3 — one doc per occurrence keeps word_counts honest
    words = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    return spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
    )


def test_paper_corpus_first_merges(spark):
    """Hand-computed first merges: (e,s) x9 wins (lexicographic tie-break
    against (s,t)/(t,</w>) at the same count), then (es,t), then (est,</w>)."""
    merges = train_bpe(_paper_corpus(spark), "text")[:3]
    assert merges == [("e", "s"), ("es", "t"), ("est", f"{END}")]


def test_word_counts_distributed(spark):
    wc = {r.word: r.cnt for r in word_counts(_paper_corpus(spark), "text").collect()}
    assert wc == {"low": 5, "lower": 2, "newest": 6, "widest": 3}


def test_encode_reconstructs_words(spark):
    """BPE is lossless: concatenating a word's tokens and stripping the
    end-of-word marker reproduces the word, at any number of merges."""
    merges = train_bpe(_paper_corpus(spark), "text")
    for n in (0, 2, 10, 50):
        ranks = {p: i for i, p in enumerate(merges[:n])}
        for w in ("low", "lower", "newest", "widest", "slowest"):
            toks = encode_word(w, ranks)
            assert "".join(toks).replace(END, "") == w, (n, w)


def test_zero_merges_is_characters():
    assert encode_word("abc", {}) == ["a", "b", "c", END]


def test_merges_compress_trained_words(spark):
    """Enough merges collapse every frequent training word to one token."""
    merges = train_bpe(_paper_corpus(spark), "text")
    ranks = {p: i for i, p in enumerate(merges)}
    assert encode_word("newest", ranks) == ["newest" + END]
    assert encode_word("low", ranks) == ["low" + END]


def test_distributed_encoder_matches_local(spark):
    rng = np.random.default_rng(17)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    docs = [
        (i, " ".join(rng.choice(vocab, size=rng.integers(3, 12))))
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    merges = train_bpe(df, "text")
    ranks = {p: i for i, p in enumerate(merges)}
    out = {r.doc_id: r for r in bpe_tokenize(df, merges).collect()}
    assert len(out) == 40
    for did, text in docs:
        words = [w for w in text.lower().split(" ") if w]
        expected = [t for w in words for t in encode_word(w, ranks)]
        assert list(out[did].tokens) == expected, did
        assert out[did].n_words == len(words)
        assert out[did].n_tokens == len(expected)


def test_training_is_deterministic(spark):
    corpus = _paper_corpus(spark)
    assert train_bpe(corpus, "text") == train_bpe(corpus, "text")


def test_stops_when_no_pair_repeats(spark):
    df = spark.createDataFrame([(0, "ab cd")], "doc_id long, text string")
    # every adjacent pair occurs once -> no merge is worth learning
    assert train_bpe(df, "text") == []


def test_tokenize_preserves_id_column_type(spark):
    """The encoder's output schema must follow the input id column's type,
    not hard-code long (r05 code-review finding)."""
    df = spark.createDataFrame(
        [("doc-a", "low low"), ("doc-b", "newest")], "doc_id string, text string"
    )
    merges = train_bpe(df, "text")
    out = {r.doc_id: r for r in bpe_tokenize(df, merges, "doc_id", "text").collect()}
    assert set(out) == {"doc-a", "doc-b"}
    assert out["doc-a"].n_words == 2


def _n_words(df) -> int:
    """A cap that keeps every distinct word: the uncapped reference."""
    return word_counts(df, "text").count()


def test_vocab_candidate_cap_engages(spark):
    """The driver-collect bound (VERDICT r09 task #4): with
    max_vocab_candidates=N only the top-N words by (cnt desc, word asc)
    reach the merge loop — training on the capped corpus must equal
    training on a corpus manually restricted to those N words."""
    words = (
        ["alpha"] * 9 + ["beta"] * 7 + ["gamma"] * 2
        + ["delta", "epsilon", "zeta"]  # the hapax tail the cap drops
    )
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
    )
    kept = spark.createDataFrame(
        [(i, w) for i, w in enumerate(["alpha"] * 9 + ["beta"] * 7)],
        "doc_id long, text string",
    )
    capped = train_bpe(df, "text", max_vocab_candidates=2)
    manual = train_bpe(kept, "text", max_vocab_candidates=_n_words(kept))
    assert capped == manual
    # and the cap's tie-break is (cnt desc, word asc): raising it to 3
    # admits exactly 'gamma' (cnt 2 beats the three hapaxes)
    capped3 = train_bpe(df, "text", max_vocab_candidates=3)
    kept3 = spark.createDataFrame(
        [(i, w) for i, w in enumerate(["alpha"] * 9 + ["beta"] * 7 + ["gamma"] * 2)],
        "doc_id long, text string",
    )
    assert capped3 == train_bpe(
        kept3, "text", max_vocab_candidates=_n_words(kept3)
    )


def test_vocab_cap_default_does_not_engage_at_test_scale(spark):
    """The 5M default must leave the sf-scale merge list untouched —
    the bpe_merges/bpe_tokenize fixtures stay bit-identical."""
    corpus = _paper_corpus(spark)
    assert train_bpe(corpus, "text") == train_bpe(
        corpus, "text", max_vocab_candidates=_n_words(corpus)
    )
