"""Round-10 regression pins: the r9 verdict/ADVICE fixes.

1. roc_pr_curve / semantic_dedup pin nothing in Spark's CacheManager
   (no "persist without unpersist" leak): their reuse routes through
   ``engine.materialize`` (localCheckpoint), whose storage backs the
   RESULT relation and is ContextCleaner-reclaimable once the caller
   drops it — no explicit unpersist required, no CacheManager entry
   ever created. The pins here are deterministic (plan-node +
   CacheManager-transition assertions); GC-timing assertions were
   measured flaky (cleanup is async) and are deliberately absent.
2. ``connected_components(local_contract=1)`` raises instead of
   silently behaving as False (identity validation, r9 ADVICE).
3. ``build_corpus_index`` ranks STRING doc ids on the distributed
   path (prefix-bucket rank) identically to the window path, and
   ``negative_sample`` accepts string doc ids end-to-end.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


# ---------------------------------------------------------------------------
# 1. no CacheManager leak


def test_roc_pr_curve_reuse_true_no_cache_manager_pin(spark):
    from mimic_iv_data_pipeline_spark.operators.aggregates import roc_pr_curve

    df = spark.createDataFrame(
        [(i % 17 / 17.0, i % 3 == 0) for i in range(200)],
        "score double, y boolean",
    ).select("score", F.col("y").cast("int").alias("y"))

    was_empty = _cache_manager_empty(spark)
    out = roc_pr_curve(df, "score", "y")
    # materialize (localCheckpoint) cuts lineage to a LogicalRDD; a
    # DataFrame.persist would surface as InMemoryRelation AND register
    # in the CacheManager — both must be absent
    assert "InMemoryRelation" not in _optimized_plan(out)
    out.collect()
    if was_empty:
        assert _cache_manager_empty(spark), (
            "roc_pr_curve registered a CacheManager entry — "
            "the persist-without-unpersist leak is back"
        )


def test_semantic_dedup_reuse_true_no_cache_manager_pin(spark):
    from mimic_iv_data_pipeline_spark.operators.dedup import semantic_dedup

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 5) - 2.0 for d in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    # fixed centroids: skip driver-side Lloyd so the test pins ONLY the
    # pin seam (q134's fixed-parameterization pattern)
    cents = [[float((c * 3 + d) % 5) - 2.0 for d in range(8)] for c in range(4)]

    was_empty = _cache_manager_empty(spark)
    out = semantic_dedup(
        emb, "vec_id", "embedding", n_clusters=4, threshold=0.9, centroids=cents
    )
    assert "InMemoryRelation" not in _optimized_plan(out)
    out.collect()
    if was_empty:
        assert _cache_manager_empty(spark), (
            "semantic_dedup registered a CacheManager entry — "
            "the persist-without-unpersist leak is back"
        )


# ---------------------------------------------------------------------------
# 2. local_contract identity validation


def test_connected_components_rejects_int_local_contract(spark):
    from mimic_iv_data_pipeline_spark.operators.graph import connected_components

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    # 1 == True in Python, so a membership check would let int 1 through
    # and the later `is True` dispatch would silently treat it as False
    with pytest.raises(ValueError, match="local_contract"):
        connected_components(pairs, local_contract=1)
    with pytest.raises(ValueError, match="local_contract"):
        connected_components(pairs, local_contract=0)


# ---------------------------------------------------------------------------
# 3. string doc ids in the corpus index / negative_sample


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


# ---------------------------------------------------------------------------
# 4. vectorized bucketed ANN scoring == expression path (r10)


def _emb_fixture(spark, n=120, dims=8):
    return spark.createDataFrame(
        [
            (i, [float((i * 13 + d * 7) % 11) - 5.0 for d in range(dims)])
            for i in range(n)
        ],
        "vec_id long, embedding array<double>",
    )


def test_ivf_topk_pandas_score_matches_expr(spark):
    """score='pandas' (per-cell numpy matmul + map-side top-k) must be
    row-identical to the interpreted-expression join it replaced —
    including rounding, tie-breaks and self-exclusion."""
    from mimic_iv_data_pipeline_spark.operators.similarity import ivf_topk

    emb = _emb_fixture(spark)
    queries = emb.filter(F.col("vec_id") < 8)
    cents = [[float((c * 5 + d) % 7) - 3.0 for d in range(8)] for c in range(4)]
    kw = dict(
        corpus=emb, n_cells=4, n_probe=2, k=5, centroids=cents
    )
    a = sorted(map(tuple, ivf_topk(queries, score="expr", **kw).collect()))
    b = sorted(map(tuple, ivf_topk(queries, score="pandas", **kw).collect()))
    assert a == b and len(a) > 0


def test_ann_lsh_topk_pandas_score_matches_expr(spark):
    from mimic_iv_data_pipeline_spark.operators.similarity import ann_lsh_topk

    emb = _emb_fixture(spark)
    queries = emb.filter(F.col("vec_id") < 8)
    kw = dict(corpus=emb, dims=8, bits=4, k=5)
    a = sorted(map(tuple, ann_lsh_topk(queries, score="expr", **kw).collect()))
    b = sorted(map(tuple, ann_lsh_topk(queries, score="pandas", **kw).collect()))
    assert a == b and len(a) > 0


# ---------------------------------------------------------------------------
# 5. sampled_matrix driver-transfer bound (r10 probe finding)


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
