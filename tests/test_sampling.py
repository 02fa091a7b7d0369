"""Sampling and corpus-index tests: the dense corpus index over string,
unicode and numeric doc ids, ``negative_sample`` with string doc ids,
and ``sampled_matrix``'s hash-threshold pre-filter."""

from __future__ import annotations

from pyspark.sql import functions as F


def _string_docs(spark):
    # deliberately uneven prefixes + an empty-ish and short id to
    # exercise the 2-char-prefix bucketing edges
    ids = (
        [f"doc-{i:05d}" for i in range(40)]
        + [f"url://site-{i}/page" for i in range(25)]
        + ["a", "ab", "b"]
    )
    return spark.createDataFrame([(s,) for s in ids], "doc_key string")


def test_corpus_index_string_distributed_matches_window(spark):
    from mimic_iv_data_pipeline_spark.operators.sampling import build_corpus_index

    docs = _string_docs(spark)
    win = build_corpus_index(docs, "doc_key").orderBy("__i").collect()
    dist = (
        build_corpus_index(docs, "doc_key", window_threshold=0)
        .orderBy("__i")
        .collect()
    )
    assert [tuple(r) for r in win] == [tuple(r) for r in dist]
    # dense 0..N-1, size constant correct
    assert [r["__i"] for r in win] == list(range(len(win)))
    assert all(r["__n"] == len(win) for r in win)


def test_corpus_index_unicode_and_null_distributed_matches_window(spark):
    """The 2-char-prefix bucket is contiguous under Spark's BINARY
    collation even for multi-byte code points (a k-code-point prefix
    respects byte-prefix ordering: the first differing byte lies either
    inside both prefixes — same order — or beyond — equal prefixes).
    NULL doc ids bucket to NULL, which sorts first in both paths."""
    from mimic_iv_data_pipeline_spark.operators.sampling import build_corpus_index

    ids = [
        "a", "aé", "aéx", "b", "éa", "日本語-doc", "日本", "ß", "ss",
        "ź", "za", "", " lead-space", "doc-1", "doc-10", "doc-2",
        None,
    ] + [f"αβγ-{i}" for i in range(20)]
    docs = spark.createDataFrame([(s,) for s in ids], "doc_key string")
    win = build_corpus_index(docs, "doc_key").orderBy("__i").collect()
    dist = (
        build_corpus_index(docs, "doc_key", window_threshold=0)
        .orderBy("__i")
        .collect()
    )
    assert [tuple(r) for r in win] == [tuple(r) for r in dist]
    assert [r["__i"] for r in win] == list(range(len(win)))


def test_corpus_index_numeric_distributed_matches_window(spark):
    from mimic_iv_data_pipeline_spark.operators.sampling import build_corpus_index

    docs = spark.range(0, 500).select((F.col("id") * 13 % 997).alias("doc_id"))
    win = build_corpus_index(docs, "doc_id").orderBy("__i").collect()
    dist = (
        build_corpus_index(docs, "doc_id", window_threshold=0)
        .orderBy("__i")
        .collect()
    )
    assert [tuple(r) for r in win] == [tuple(r) for r in dist]


def test_sampled_matrix_threshold_filter_preserves_exact_draw(spark):
    """The hash-threshold pre-filter (engaged when corpus >= 4x sample)
    must return EXACTLY the global top-train_sample rows by
    (xxhash64(key, tag), key) — the same draw the unfiltered TakeOrdered
    produced before the r10 maxResultSize fix. Expected set computed
    independently by collecting every hash."""
    from mimic_iv_data_pipeline_spark.operators.similarity import sampled_matrix

    df = spark.range(1000).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("double"), (F.col("id") * 2).cast("double")).alias(
            "embedding"
        ),
    )
    ref = sorted(
        df.select(
            F.xxhash64(F.col("vec_id").cast("string"), F.lit("t")).alias("h"),
            F.col("vec_id").cast("string").alias("k"),
            "embedding",
        ).collect(),
        key=lambda r: (r["h"], r["k"]),
    )[:100]
    X = sampled_matrix(df, "vec_id", "embedding", 100, "t")
    assert X.shape == (100, 2)
    assert [list(row) for row in X] == [list(r["embedding"]) for r in ref]


def test_negative_sample_string_doc_ids_end_to_end(spark):
    from mimic_iv_data_pipeline_spark.operators.sampling import (
        build_corpus_index,
        negative_sample,
    )

    corpus = _string_docs(spark)
    pos = spark.createDataFrame(
        [(q, f"doc-{(q * 7 + j) % 40:05d}") for q in range(6) for j in range(3)],
        "query_id long, doc_key string",
    )
    out = negative_sample(pos, corpus, doc_col="doc_key", k=4).collect()
    assert len(out) == 6 * 4  # oversample default is ample here
    pos_set = {(r["query_id"], r["doc_key"]) for r in pos.collect()}
    assert not {(r["query_id"], r["doc_key"]) for r in out} & pos_set
    # forced-distributed index must reproduce the window-path draws
    # exactly (the dense index is the same relation either way)
    idx = build_corpus_index(corpus, "doc_key", window_threshold=0)
    out2 = negative_sample(pos, doc_col="doc_key", corpus_index=idx).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
