"""The engine-defaults deployment seams (engine.py, session.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.engine import MATERIALIZE_CONF, materialize
from mimic_iv_data_pipeline_spark.session import default_driver_memory

GIB = 2**30


def test_default_driver_memory_fits_the_host():
    """The driver heap is min(16g, RAM/2), at least 1g: a 16g heap on a
    15 GiB host gets the JVM OOM-killed, and the 128 GiB harness keeps
    its measured 16g."""
    assert default_driver_memory(1 * GIB) == "1g"
    assert default_driver_memory(15 * GIB) == "7g"
    assert default_driver_memory(128 * GIB) == "16g"


def test_materialize_local_default(spark):
    df = spark.range(10).transform(materialize)
    assert df.count() == 10
    # lineage is truncated: the plan scans a materialized RDD, not Range
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan and "Range" not in plan


def test_materialize_reliable_uses_checkpoint_dir(spark, tmp_path):
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set(MATERIALIZE_CONF, "reliable")
    try:
        df = spark.range(7).transform(materialize)
        assert df.count() == 7
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in plan and "Range" not in plan
        # the checkpoint actually landed in the configured directory
        assert any((tmp_path / "ckpt").rglob("*"))
    finally:
        spark.conf.unset(MATERIALIZE_CONF)


def test_materialize_rejects_unknown_mode(spark):
    spark.conf.set(MATERIALIZE_CONF, "bogus")
    try:
        with pytest.raises(ValueError, match="local.*reliable|reliable.*local"):
            materialize(spark.range(1))
    finally:
        spark.conf.unset(MATERIALIZE_CONF)


def test_iterative_operator_respects_reliable_mode(spark, tmp_path):
    """End-to-end: operators that pin under reliable mode produce
    identical results (the seam changes state placement, not values),
    and their pins land in the checkpoint directory during the call."""
    from mimic_iv_data_pipeline_spark.operators.graph import (
        connected_components,
        label_propagation,
    )
    from mimic_iv_data_pipeline_spark.operators.retrieval import tfidf_cosine_pairs

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "src long, dst long"
    )
    docs = _docs(spark)
    calls = {
        # driver_cap=0: the small-graph driver union-find pins nothing
        "connected_components": lambda: connected_components(
            edges, "src", "dst", driver_cap=0
        ),
        "label_propagation": lambda: label_propagation(edges),
        "tfidf_cosine_pairs": lambda: tfidf_cosine_pairs(docs, threshold=0.5),
    }
    for name, call in calls.items():
        base = sorted(map(tuple, call().collect()))
        ckpt = tmp_path / f"ckpt-{name}"
        spark.sparkContext.setCheckpointDir(str(ckpt))
        spark.conf.set(MATERIALIZE_CONF, "reliable")
        try:
            out = call()
            landed = [p for p in ckpt.rglob("*") if p.is_file()]
            rel = sorted(map(tuple, out.collect()))
        finally:
            spark.conf.unset(MATERIALIZE_CONF)
        assert landed, f"{name} pinned nothing through the reliable seam"
        assert base == rel and base, name


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _docs(spark):
    """30 short docs; doc i and doc i+10 are identical, so every
    near-dup operator finds pairs."""
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    return spark.createDataFrame(
        [
            (i, " ".join(words[(i + j) % 10] for j in range(8)), ("en", "de")[i % 2], i % 4 == 0)
            for i in range(30)
        ],
        "doc_id long, text string, lang string, tgt boolean",
    )


def _emb(spark):
    return spark.createDataFrame(
        [(i, [float((i * 7 + d) % 5) - 2.0 for d in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )


def _roc_pr_curve(spark, sf):
    from mimic_iv_data_pipeline_spark.operators.aggregates import roc_pr_curve

    df = spark.createDataFrame(
        [(i % 17 / 17.0, i % 3 == 0) for i in range(200)],
        "score double, y boolean",
    ).select("score", F.col("y").cast("int").alias("y"))
    return roc_pr_curve(df, "score", "y")


def _semantic_dedup(spark, sf):
    from mimic_iv_data_pipeline_spark.operators.dedup import semantic_dedup

    # fixed centroids: skip driver-side Lloyd so the case pins ONLY the
    # pin seam (q134's fixed-parameterization pattern)
    cents = [[float((c * 3 + d) % 5) - 2.0 for d in range(8)] for c in range(4)]
    return semantic_dedup(
        _emb(spark), "vec_id", "embedding", n_clusters=4, threshold=0.9, centroids=cents
    )


def _dsir_log_weights(spark, sf):
    from mimic_iv_data_pipeline_spark.operators.sampling import dsir_log_weights

    return dsir_log_weights(_docs(spark), "doc_id", "text", "tgt", buckets=64)


def _ngram_jaccard_pairs(threshold):
    def build(spark, sf):
        from mimic_iv_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

        return ngram_jaccard_pairs(_docs(spark), "doc_id", threshold=threshold)

    return build


def _minhash_lsh_pairs(spark, sf):
    from mimic_iv_data_pipeline_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark), "doc_id", verify_threshold=0.2)


def _edit_distance_join(spark, sf):
    from mimic_iv_data_pipeline_spark.operators.fuzzy import edit_distance_join

    names = spark.createDataFrame(
        [(i, n) for i, n in enumerate(["anna", "ana", "hanna", "bob", "bobb", "rob"])],
        "id long, name string",
    )
    return edit_distance_join(names, "id", "name", max_dist=1)


def _kneser_ney_scores(spark, sf):
    from mimic_iv_data_pipeline_spark.operators.text import kneser_ney_scores

    return kneser_ney_scores(_docs(spark), "doc_id")


def _naive_bayes_scores(spark, sf):
    from mimic_iv_data_pipeline_spark.operators.text import naive_bayes_scores

    return naive_bayes_scores(_docs(spark), "doc_id", "text", "lang")


def _quantize_embeddings_int8(spark, sf):
    from mimic_iv_data_pipeline_spark.operators.similarity import (
        quantize_embeddings_int8,
    )

    return quantize_embeddings_int8(_emb(spark))


def _tfidf_cosine_pairs(spark, sf):
    from mimic_iv_data_pipeline_spark.operators.retrieval import tfidf_cosine_pairs

    return tfidf_cosine_pairs(_docs(spark), threshold=0.5)


def _label_propagation(spark, sf):
    from mimic_iv_data_pipeline_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12)], "src long, dst long"
    )
    return label_propagation(edges)


def _query(name):
    def build(spark, sf):
        from mimic_iv_data_pipeline_spark.queries import all_queries

        return all_queries()[name](spark, sf)

    return build


@pytest.mark.parametrize(
    "build",
    [
        pytest.param(_roc_pr_curve, id="roc_pr_curve"),
        pytest.param(_semantic_dedup, id="semantic_dedup"),
        pytest.param(_dsir_log_weights, id="dsir_log_weights"),
        pytest.param(_ngram_jaccard_pairs(0.2), id="ngram_jaccard_pairs_index"),
        pytest.param(_ngram_jaccard_pairs(0.6), id="ngram_jaccard_pairs_prefix"),
        pytest.param(_minhash_lsh_pairs, id="minhash_lsh_pairs"),
        pytest.param(_edit_distance_join, id="edit_distance_join"),
        pytest.param(_kneser_ney_scores, id="kneser_ney_scores"),
        pytest.param(_naive_bayes_scores, id="naive_bayes_scores"),
        pytest.param(_quantize_embeddings_int8, id="quantize_embeddings_int8"),
        pytest.param(_tfidf_cosine_pairs, id="tfidf_cosine_pairs"),
        pytest.param(_label_propagation, id="label_propagation"),
        pytest.param(_query("q67_cms_freq"), id="q67_cms_freq"),
        pytest.param(_query("q122_rag_retrieve"), id="q122_rag_retrieve"),
        pytest.param(_query("q129_rag_retrieve_exact"), id="q129_rag_retrieve_exact"),
    ],
)
def test_pin_leaves_no_cache_manager_entry(spark, sf_smoke, build):
    """Every pin goes through engine.materialize (localCheckpoint): its
    storage backs the RESULT relation and is ContextCleaner-freed once
    the caller drops it, and no CacheManager entry is ever created. A
    ``persist()`` would surface as an InMemoryRelation in the plan AND
    stay registered in the CacheManager for the session's life. The
    assertions are deterministic (plan nodes, CacheManager state);
    ContextCleaner timing is asynchronous, so nothing here waits on GC."""
    was_empty = _cache_manager_empty(spark)
    out = build(spark, sf_smoke)
    assert "InMemoryRelation" not in out._jdf.queryExecution().optimizedPlan().toString()
    assert out.collect()
    if was_empty:
        assert _cache_manager_empty(spark), "the pin registered a CacheManager entry"
