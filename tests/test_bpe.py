"""Golden + property tests for the full BPE tokenizer (operators/bpe.py)."""

from __future__ import annotations

import pytest

from mimic_iv_data_pipeline_spark.operators.bpe import (
    EOW,
    _encode_word,
    bpe_encode,
    bpe_train,
    train_merges_py,
)


def test_train_merges_golden():
    # Sennrich-style toy vocab: 'es' wins first (9+4+2 = 15? no — count
    # by hand below), then chains deterministically.
    vocab = [("low", 5), ("lowest", 2), ("newer", 6), ("wider", 3)]
    merges = train_merges_py(vocab, 4)
    # pair counts round 1: ('e','r') appears in newer(6)+wider(3)=9 — max.
    assert merges[0] == ("e", "r")
    # round 2: ('er','</w>') = 9 still the max.
    assert merges[1] == ("er", EOW)
    # round 3: 'lo' in low(5)+lowest(2)=7, 'ne'=6, 'wi'=3 → 'lo'
    assert merges[2] == ("l", "o")
    assert merges[3] == ("lo", "w")


def test_train_tie_breaks_deterministic():
    # all pairs appear exactly once → lexicographically smallest wins
    merges = train_merges_py([("ba", 1), ("ab", 1)], 1)
    assert merges[0] == ("a", EOW)  # ('a','</w>') < ('a','b') < ('b','a') …


def test_encode_word_uses_rank_order():
    merges = [("e", "r"), ("er", EOW), ("l", "o"), ("lo", "w")]
    ranks = {p: i for i, p in enumerate(merges)}
    assert _encode_word("newer", ranks) == ["n", "e", "w", "er" + EOW]
    assert _encode_word("low", ranks) == ["low", EOW]
    # unseen chars survive as singletons
    assert _encode_word("xyz", ranks) == ["x", "y", "z", EOW]


def test_encode_merges_all_occurrences():
    merges = [("a", "a")]
    ranks = {p: i for i, p in enumerate(merges)}
    assert _encode_word("aaaa", ranks) == ["aa", "aa", EOW]
    assert _encode_word("aaa", ranks) == ["aa", "a", EOW]


@pytest.fixture(scope="module")
def tiny_corpus(spark):
    rows = [
        (0, "the lowest rate the lower rate"),
        (1, "newer lower rates are the newest"),
        (2, "wide wider widest"),
        (3, ""),
        (4, "the the the"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_spark_train_matches_pure_python(spark, tiny_corpus):
    from collections import Counter

    texts = [r.text for r in tiny_corpus.collect()]
    wc = Counter(w for t in texts for w in t.strip().lower().split())
    expected = train_merges_py(sorted(wc.items()), 30)
    got = bpe_train(tiny_corpus, "text", num_merges=30, max_words=1000)
    assert got == expected


def test_encode_roundtrip_lossless(spark, tiny_corpus):
    merges = bpe_train(tiny_corpus, "text", num_merges=20, max_words=1000)
    enc = bpe_encode(tiny_corpus, "doc_id", "text", merges)
    out = {r.doc_id: r for r in enc.collect()}
    for r in tiny_corpus.collect():
        toks = out[r.doc_id].tokens
        assert out[r.doc_id].n_tokens == len(toks)
        # every word ends with exactly one EOW marker; stripping the
        # markers and concatenating restores the normalized words
        rebuilt = "".join(toks).replace(EOW, " ").strip()
        assert rebuilt == " ".join(r.text.strip().lower().split())


def test_encode_partition_invariant(spark, tiny_corpus):
    merges = bpe_train(tiny_corpus, "text", num_merges=10, max_words=1000)
    a = sorted(
        (r.doc_id, tuple(r.tokens))
        for r in bpe_encode(tiny_corpus, "doc_id", "text", merges).collect()
    )
    b = sorted(
        (r.doc_id, tuple(r.tokens))
        for r in bpe_encode(
            tiny_corpus.repartition(7), "doc_id", "text", merges
        ).collect()
    )
    assert a == b
