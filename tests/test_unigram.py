"""Unigram-LM tokenizer (operators/unigram.py): segmentation properties,
determinism, trainer/encoder agreement, and the sf0.01 fixture pins."""

from __future__ import annotations

import math
import random

import pytest

from covid19_spark.operators.unigram import (
    UNK_LOGPROB,
    _viterbi,
    train_unigram,
    unigram_tokenize,
)


def _corpus(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_viterbi_prefers_high_probability_pieces():
    logp = {"a": -3.0, "b": -3.0, "ab": -1.0, "abab": -5.0}
    pieces, score = _viterbi("abab", logp)
    assert pieces == ["ab", "ab"]
    assert score == pytest.approx(-2.0)


def test_viterbi_tie_prefers_longer_last_piece():
    # two segmentations with EXACTLY equal scores: ['ab','c'] vs ['a','bc']
    logp = {"a": -1.0, "ab": -1.0, "bc": -1.0, "c": -1.0, "b": -1.0}
    pieces, _ = _viterbi("abc", logp)
    # backward dp: last piece 'bc' (len 2) wins the tie over 'c' (len 1)
    assert pieces == ["a", "bc"]


def test_viterbi_unknown_chars_fall_back_to_singletons():
    logp = {"x": -1.0}
    pieces, score = _viterbi("xqx", logp)
    assert pieces == ["x", "q", "x"]
    assert score == pytest.approx(-2.0 + UNK_LOGPROB)


def test_round_trip_over_trained_corpus(spark):
    texts = ["the quick brown fox", "the slow brown dog", "quick quick fox"]
    vocab = train_unigram(_corpus(spark, texts))
    logp = dict(vocab)
    for t in texts:
        for w in t.split(" "):
            pieces, score = _viterbi(w, logp)
            assert "".join(pieces) == w
            assert score > 10 * UNK_LOGPROB  # no fallback needed on train words


def test_training_is_deterministic(spark):
    texts = ["aluminium amalgam alabama", "alabama aluminium", "amalgam amalgam"]
    df = _corpus(spark, texts)
    assert train_unigram(df) == train_unigram(df)


def test_vocab_respects_size_and_keeps_all_chars(spark):
    # 200 distinct random 12-letter words: each segments into about two
    # mostly-unique 6-char pieces, so EM alone keeps ~400 multi-char
    # pieces and the prune-to-size loop has to cut them to the budget
    rng = random.Random(7)
    words = [
        "".join(rng.choice("abcdefghijklmnop") for _ in range(12))
        for _ in range(200)
    ]
    texts = [" ".join(words[i:i + 10]) for i in range(0, len(words), 10)]
    chars = {c for t in texts for c in t if c != " "}
    budget = 300 - len(chars)
    vocab = train_unigram(_corpus(spark, texts))
    pieces = [p for p, _ in vocab]
    # every seen char survives pruning (coverage guarantee) ...
    assert chars <= set(pieces)
    # ... and pruning stops at the multi-char budget: the last cut keeps
    # exactly ``budget`` pieces, and the EM round after it may drop a few
    # that no segmentation uses any more
    n_multi = sum(1 for p in pieces if len(p) > 1)
    assert budget - 10 <= n_multi <= budget
    # logprobs are a (sub)distribution: all negative
    assert all(lp < 0 for _, lp in vocab)


def test_encoder_matches_trainer_segmentation(spark):
    texts = ["tokenize tokens token", "tokenize the token stream"]
    df = _corpus(spark, texts)
    vocab = train_unigram(df)
    logp = dict(vocab)
    out = {r.doc_id: r for r in unigram_tokenize(df, vocab).collect()}
    for i, t in enumerate(texts):
        words = t.split(" ")
        pieces, nll = [], 0.0
        for w in words:
            ps, s = _viterbi(w, logp)
            pieces.extend(ps)
            nll -= s
        row = out[i]
        assert row.tokens == pieces
        assert row.n_words == len(words)
        assert row.n_tokens == len(pieces)
        assert row.nll == pytest.approx(nll)


def test_encoder_handles_unseen_text(spark):
    train = _corpus(spark, ["seen words only"])
    vocab = train_unigram(train)
    novel = spark.createDataFrame(
        [(0, "UNSEEN @#$ 象形文字")], "doc_id long, text string"
    )
    row = unigram_tokenize(novel, vocab).collect()[0]
    assert row.n_tokens >= row.n_words  # segments, never crashes
    assert all(tok for tok in row.tokens)


def test_nll_orders_in_domain_before_gibberish(spark):
    train = _corpus(
        spark, ["data table scan join", "table scan filter join", "data join"]
    )
    vocab = train_unigram(train)
    probe = spark.createDataFrame(
        [(0, "data table join"), (1, "zqxv wkjy pfft")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in unigram_tokenize(probe, vocab).collect()}
    assert rows[0].nll < rows[1].nll


def test_empty_and_null_text(spark):
    train = _corpus(spark, ["some training words"])
    vocab = train_unigram(train)
    df = spark.createDataFrame(
        [(0, ""), (1, None)], "doc_id long, text string"
    )
    rows = sorted(unigram_tokenize(df, vocab).collect(), key=lambda r: r.doc_id)
    for r in rows:
        assert r.n_words == 0 and r.n_tokens == 0 and r.nll == 0.0


def test_unigram_vocab_matches_fixture(spark):
    from tests.test_dedup import _assert_matches_fixture

    _assert_matches_fixture(spark, "unigram_vocab", ["piece"])


def test_unigram_tokenize_matches_fixture(spark):
    from tests.test_dedup import _assert_matches_fixture

    _assert_matches_fixture(spark, "unigram_tokenize", ["doc_id"])


