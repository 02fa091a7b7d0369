"""Full byte-pair-encoding tokenizer: distributed vocabulary induction
plus Arrow-batched corpus encoding.

Training (Sennrich et al., ACL 2016) is a loop over the *word
vocabulary*, not the corpus: the only corpus-scale work is one
word-count aggregate. The top-``max_words`` vocabulary (exact
TakeOrdered, bounded rows) is collected to the driver and the merge
loop runs in pure Python — the same bounded-driver-step pattern as the
IVF coarse quantizer (`operators/similarity.py`): at 100 TB the word
count shuffle scales out, while 50k vocab entries × a few hundred
merges is microscopic driver work that would cost 2 Spark jobs per
merge if expressed as plans (`bpe_pair_counts`, q81, keeps the one-step
distributed form for corpora whose *vocabulary* is itself huge).

Encoding broadcasts the merge-rank table inside the closure and runs
the standard greedy lowest-rank merge per word inside ``mapInPandas`` —
Python, but Arrow-batched with per-batch word caching (each distinct
word in a batch is encoded once). Tokenization is inherently per-string
sequential work; this is the documented Pandas-UDF slow path, kept off
every other operator's hot path.

No reference twin: the reference tokenizes via a fixed BEHRT code
vocabulary (`model/behrt_train.py`, re-expressed in
`plans/tokenization.py`); subword induction is LLM-corpus surface.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.functions.schema_utils import (
    id_field as _id_field,
)

from mimic_iv_data_pipeline_spark.operators.text import tokens

__all__ = [
    "bpe_train",
    "bpe_encode",
    "train_merges_py",
]

EOW = "</w>"
_WS = re.compile(r"\s+", re.ASCII)


def train_merges_py(
    word_counts: list[tuple[str, int]], num_merges: int
) -> list[tuple[str, str]]:
    """Classic BPE merge induction over ``(word, count)`` pairs.

    Deterministic: ties on pair frequency break to the lexicographically
    smallest pair, so the merge list is a pure function of the vocab.
    """
    vocab: dict[tuple[str, ...], int] = {}
    for w, c in word_counts:
        syms = tuple(w) + (EOW,)
        vocab[syms] = vocab.get(syms, 0) + c

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for pair in zip(syms, syms[1:]):
                pair_counts[pair] = pair_counts.get(pair, 0) + c
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == best[0] and syms[i + 1] == best[1]:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + c
        vocab = new_vocab
    return merges


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 100,
    max_words: int = 50_000,
) -> list[tuple[str, str]]:
    """Induce a BPE merge list from a corpus.

    One corpus-scale aggregate (word counts), one exact bounded top-k
    (count desc, word asc — deterministic under ties), then the driver
    merge loop over ≤ ``max_words`` rows.
    """
    wc = (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("word"))
        .limit(max_words)  # TakeOrderedAndProject — no global sort
        .collect()
    )
    return train_merges_py([(r.word, r.c) for r in wc], num_merges)


def _make_word_encoder(ranks: dict[tuple[str, str], int]):
    """Build the greedy lowest-rank word encoder as a CLOSURE.

    Deliberately a nested function: executor closures must be pickled
    by VALUE (the repo package is not importable on workers when the
    driver runs from a foreign cwd — the external correctness driver
    does exactly that), and cloudpickle only falls back to by-value
    serialization for functions it cannot resolve by module import.
    Every ``mapInPandas`` body in this repo follows the same rule.
    """
    eow = EOW

    def encode_word(word: str) -> list[str]:
        syms = list(word) + [eow]
        while len(syms) > 1:
            best_rank = None
            best_i = -1
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_rank is None:
                break
            # merge ALL occurrences of the chosen pair left-to-right
            # (the same contraction order the trainer used)
            pair = (syms[best_i], syms[best_i + 1])
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
                    out.append(pair[0] + pair[1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    return encode_word


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Test/driver-side convenience wrapper over the closure factory."""
    return _make_word_encoder(ranks)(word)


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Tokenize ``text_col`` with a trained merge list.

    Returns ``(id, tokens array<string>, n_tokens long)``. Lossless:
    concatenating the tokens and stripping ``</w>`` markers restores
    the whitespace-normalized words (property-tested).
    """
    ranks = {pair: i for i, pair in enumerate(merges)}
    out_schema = f"{_id_field(df, id_col)}, tokens array<string>, n_tokens long"
    # bind everything the worker needs as locals: the nested encoder
    # closure and a compiled regex pickle by value; no module globals
    # reach the executors (see _make_word_encoder docstring)
    raw_encoder = _make_word_encoder(ranks)
    ws = _WS

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[str]] = {}

        def enc_word(w: str) -> list[str]:
            got = cache.get(w)
            if got is None:
                got = cache[w] = raw_encoder(w)
            return got

        for pdf in batches:
            if pdf.empty:
                continue
            toks = []
            for text in pdf[text_col]:
                doc: list[str] = []
                # ASCII \s+ split of the trimmed lowercased string —
                # mirrors operators.text.tokens (Java \s is ASCII-only)
                for w in ws.split((text or "").strip(" \t\n\r\f\x0b").lower()):
                    if w:
                        doc.extend(enc_word(w))
                toks.append(doc)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "tokens": toks,
                    "n_tokens": [len(t) for t in toks],
                }
            )

    return df.select(id_col, text_col).mapInPandas(encode, schema=out_schema)
