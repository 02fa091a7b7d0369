"""Sampling and corpus-index tests: the dense corpus index over string,
unicode and numeric doc ids and its prefix-skew range fallback,
``negative_sample`` with string doc ids, ``sampled_matrix``'s
hash-threshold pre-filter, and ``global_prefix_sums``."""

from __future__ import annotations

import pytest
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


# --- prefix-skew fallback: a dominant 2-char prefix bucket falls back to a
# sampled RANGE-bucketed rank; bucket boundaries never move the global rank
# of a contiguous bucketing, so window, prefix- and range-bucketed paths
# emit IDENTICAL (__i, __doc) relations ----------------------------------------


def _index_rows(df):
    return [(r["__i"], r["__doc"]) for r in df.orderBy("__i").collect()]


@pytest.fixture(scope="module")
def skewed_docs(spark):
    # every id shares the 'ht' prefix — one 2-char bucket holds ALL docs
    return spark.range(0, 200).select(
        F.concat(
            F.lit("https://corpus.example/doc/"),
            F.lpad(F.col("id").cast("string"), 6, "0"),
        ).alias("doc_key")
    )


def test_range_rank_matches_window_rank_on_skewed_corpus(spark, skewed_docs):
    from mimic_iv_data_pipeline_spark.operators.sampling import build_corpus_index

    win = _index_rows(build_corpus_index(skewed_docs, "doc_key"))
    # skew_cap=1 forces the range fallback (every doc is in one bucket)
    rng = _index_rows(
        build_corpus_index(
            skewed_docs, "doc_key", window_threshold=0, skew_cap=1, range_buckets=7
        )
    )
    # skew_cap=10**9 forces the prefix path even on the skewed corpus
    # (single bucket -> single window partition; correct, just slow)
    pre = _index_rows(
        build_corpus_index(
            skewed_docs, "doc_key", window_threshold=0, skew_cap=10**9
        )
    )
    assert win == rng == pre
    assert [i for i, _ in win] == list(range(200))


def test_skew_detector_dispatch(spark, skewed_docs):
    """Auto dispatch: a dominant bucket routes to the range path (no
    prefix-substring bucketing in the plan — the rank runs over the
    materialized range partitioning), a uniform corpus stays on the
    prefix path (substring bucket key in the plan)."""
    from mimic_iv_data_pipeline_spark.operators.sampling import build_corpus_index

    skewed = build_corpus_index(skewed_docs, "doc_key", window_threshold=0)
    assert "substring(__doc" not in skewed._jdf.queryExecution().toString()

    # reversed zero-padded ids: the leading 2 chars are the (uniform)
    # low-order digits — 100 prefix buckets of 2 docs each
    uniform = spark.range(0, 200).select(
        F.reverse(F.lpad(F.col("id").cast("string"), 6, "0")).alias("doc_key")
    )
    # cap = max(0, 200//8) = 25 >> max bucket 2 -> prefix path
    pre = build_corpus_index(uniform, "doc_key", window_threshold=0)
    assert "substring(__doc" in pre._jdf.queryExecution().toString()
    assert _index_rows(pre) == _index_rows(build_corpus_index(uniform, "doc_key"))


def test_range_rank_null_and_unicode_parity(spark):
    from mimic_iv_data_pipeline_spark.operators.sampling import build_corpus_index

    docs = spark.createDataFrame(
        [(None,), ("",), ("ht",), ("https://a/0",), ("https://a/1",),
         ("https://a/é",), ("zz",)],
        "doc_key string",
    )
    win = _index_rows(build_corpus_index(docs, "doc_key"))
    rng = _index_rows(
        build_corpus_index(
            docs, "doc_key", window_threshold=0, skew_cap=1, range_buckets=3
        )
    )
    assert win == rng
    assert win[0][1] is None  # null ranks first on every path


def test_negative_sample_identical_across_index_paths(spark, skewed_docs):
    from mimic_iv_data_pipeline_spark.operators.sampling import (
        build_corpus_index,
        negative_sample,
    )

    pos = spark.createDataFrame(
        [(1, "https://corpus.example/doc/000003"),
         (2, "https://corpus.example/doc/000007"),
         (3, "https://corpus.example/doc/000011")],
        "query_id long, doc_key string",
    )
    out = {}
    for name, idx in (
        ("window", build_corpus_index(skewed_docs, "doc_key")),
        ("range", build_corpus_index(
            skewed_docs, "doc_key", window_threshold=0, skew_cap=1, range_buckets=5
        )),
    ):
        rows = (
            negative_sample(pos, doc_col="doc_key", k=3, corpus_index=idx)
            .orderBy("query_id", "neg_rank")
            .collect()
        )
        out[name] = [tuple(r) for r in rows]
    assert out["window"] == out["range"]
    assert len(out["window"]) == 9


# --- global_prefix_sums ---------------------------------------------------


def test_global_prefix_sums_multi_matches_single(spark):
    from mimic_iv_data_pipeline_spark.operators.sampling import global_prefix_sums

    df = spark.createDataFrame(
        [(i, (i * 7) % 13, (i * 11) % 5) for i in range(500)],
        "k long, a long, b long",
    )
    multi = global_prefix_sums(
        df, [F.col("k").asc()], {"ca": F.col("a"), "cb": F.col("b")}, bucket_col="k"
    )
    single_a = global_prefix_sums(
        df, [F.col("k").asc()], {"ca": F.col("a")}, bucket_col="k"
    )
    ma = {r["k"]: (r["ca"], r["cb"]) for r in multi.collect()}
    sa = {r["k"]: r["ca"] for r in single_a.collect()}
    run_b = 0
    for i in range(500):
        run_b += (i * 11) % 5
        assert ma[i][0] == sa[i]
        assert ma[i][1] == run_b


def test_global_prefix_sum_is_permutation_at_scale(spark):
    """Regression for the layout-drift bug: ranks over a few million
    rows must be EXACTLY the permutation 1..n. The old
    repartitionByRange + spark_partition_id recipe computed partition
    offsets in a separate action whose sampled range bounds could
    differ from the final pass, duplicating/overshooting ranks near
    boundaries (first seen as an 11th decile in the 20M lift probe).
    Value-bucketing on collected quantile bounds makes the bucket a
    pure row function, so every branch agrees by construction."""
    from mimic_iv_data_pipeline_spark.operators.sampling import global_prefix_sums

    df = spark.range(3_000_000).select(
        F.col("id").alias("rid"),
        (F.pmod(F.xxhash64("id"), F.lit(100_000)) / 1e3).alias("score"),
    )
    ranked = global_prefix_sums(
        df,
        [F.col("score").desc(), F.col("rid").asc()],
        {"rnk": F.lit(1)},
        bucket_col="score",
        bucket_desc=True,
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("rnk").alias("d"),
        F.min("rnk").alias("mn"),
        F.max("rnk").alias("mx"),
    ).first()
    assert (agg["n"], agg["d"], agg["mn"], agg["mx"]) == (
        3_000_000,
        3_000_000,
        1,
        3_000_000,
    )
