"""Similarity-search tests: pandas-vectorized == expression-tree
brute force; IVF recall against exact top-k."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_pandas,
    ivf_topk,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_pandas_cosine_matches_expression(spark, emb):
    queries = emb.filter(F.col("vec_id") < 10)
    a = sorted(map(tuple, cosine_topk(queries, corpus=emb, k=5).collect()))
    b = sorted(map(tuple, cosine_topk_pandas(queries, corpus=emb, k=5).collect()))
    assert a == b


def test_ivf_recall(spark, emb):
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(queries, corpus=emb, k=5).collect()
    approx = ivf_topk(queries, corpus=emb, n_cells=8, n_probe=4, k=5).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # probing half the cells must recover most true neighbors
    assert recall >= 0.6, f"IVF recall too low: {recall}"
    # every returned similarity must be exact (IVF approximates the
    # candidate set, never the scores)
    exact_scores = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_scores:
            assert r["cos_sim"] == exact_scores[key]


def test_ivf_prunes_work(spark, emb):
    """The probed join must score fewer pairs than brute force."""
    queries = emb.filter(F.col("vec_id") < 20)
    n_corpus = emb.count()
    # count scored pairs by disabling the top-k cut
    scored = ivf_topk(queries, corpus=emb, n_cells=8, n_probe=2, k=10**9)
    assert scored.count() < 20 * (n_corpus - 1)


def test_ivf_many_cells_plan_stays_small(spark, emb):
    """n_cells=256: the centroid assignment must not inline centroids
    into the Catalyst plan (the r1 literal-expression plan grew
    O(n_cells × dims) and fell over at real IVF cell counts). With the
    broadcast+Arrow-batch assignment the plan is O(1) in n_cells and the
    query still returns sane exact-scored neighbors."""
    queries = emb.filter(F.col("vec_id") < 5)
    out = ivf_topk(queries, corpus=emb, n_cells=256, n_probe=32, k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(plan) < 200_000, "plan size grew with n_cells"
    rows = out.collect()
    assert len(rows) > 0
    # scores are exact for whatever candidates IVF surfaces
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in cosine_topk(queries, corpus=emb, k=10**6).collect()
    }
    for r in rows:
        assert r["cos_sim"] == exact[(r["query_id"], r["neighbor_id"])]


def test_cosine_pandas_query_guard(spark, emb):
    """A corpus-sized query side must raise, not OOM the driver."""
    with pytest.raises(ValueError, match="query rows"):
        cosine_topk_pandas(emb, corpus=emb, k=5, max_query_rows=10).collect()


def test_quantizer_samples_partition_order_invariant(spark):
    # the bounded driver samples feeding the IVF / SemDeDup quantizers
    # are hash-ordered, so a different partition layout (or scan order)
    # must produce identical centroids — observed via identical outputs
    # even when train_sample is smaller than the corpus
    import random

    from mimic_iv_data_pipeline_spark.operators.dedup import semantic_dedup
    from mimic_iv_data_pipeline_spark.operators.similarity import ivf_topk

    rng = random.Random(11)
    rows = [
        (i, [rng.gauss(float(i % 7), 1.0) for _ in range(8)]) for i in range(400)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    shuffled = emb.repartition(17).sortWithinPartitions(F.col("vec_id").desc())

    sd_a = sorted(map(tuple, semantic_dedup(
        emb, n_clusters=4, threshold=0.95, train_sample=128).collect()))
    sd_b = sorted(map(tuple, semantic_dedup(
        shuffled, n_clusters=4, threshold=0.95, train_sample=128).collect()))
    assert sd_a == sd_b

    q = emb.filter(F.col("vec_id") < 5)
    ivf_a = sorted(map(tuple, ivf_topk(
        q, corpus=emb, n_cells=4, n_probe=2, k=3, train_sample=128).collect()))
    ivf_b = sorted(map(tuple, ivf_topk(
        q, corpus=shuffled, n_cells=4, n_probe=2, k=3, train_sample=128).collect()))
    assert ivf_a == ivf_b


# --- vectorized bucketed ANN scoring == expression path ---------------------


def _emb_fixture(spark, n=120, dims=8):
    return spark.createDataFrame(
        [
            (i, [float((i * 13 + d * 7) % 11) - 5.0 for d in range(dims)])
            for i in range(n)
        ],
        "vec_id long, embedding array<double>",
    )


def _expr_path_rows(fn, queries, corpus, **kw):
    """Sorted rows of ``fn``'s expression path. decimal(20,0) ids are
    not integral, so they take it, and their order is the integer
    order, so top-k tie-breaks agree; the ids are mapped back to int."""
    def as_dec(df):
        return df.withColumn("vec_id", F.col("vec_id").cast("decimal(20,0)"))

    out = fn(as_dec(queries), corpus=as_dec(corpus), **kw)
    assert out.schema["query_id"].dataType.simpleString() == "decimal(20,0)"
    return sorted((int(q), int(n), c) for q, n, c in out.collect())


def test_ivf_topk_pandas_score_matches_expr(spark):
    """The integral-id scorer (per-cell numpy matmul + map-side top-k)
    must be row-identical to the interpreted-expression join that
    non-integral ids take — including rounding, tie-breaks and
    self-exclusion."""
    emb = _emb_fixture(spark)
    queries = emb.filter(F.col("vec_id") < 8)
    cents = [[float((c * 5 + d) % 7) - 3.0 for d in range(8)] for c in range(4)]
    kw = dict(corpus=emb, n_cells=4, n_probe=2, k=5, centroids=cents)
    a = _expr_path_rows(ivf_topk, queries, **kw)
    b = sorted(map(tuple, ivf_topk(queries, **kw).collect()))
    assert a == b and len(a) > 0


def test_ann_lsh_topk_pandas_score_matches_expr(spark):
    from mimic_iv_data_pipeline_spark.operators.similarity import ann_lsh_topk

    emb = _emb_fixture(spark)
    queries = emb.filter(F.col("vec_id") < 8)
    kw = dict(corpus=emb, dims=8, bits=4, k=5)
    a = _expr_path_rows(ann_lsh_topk, queries, **kw)
    b = sorted(map(tuple, ann_lsh_topk(queries, **kw).collect()))
    assert a == b and len(a) > 0


def test_ann_pandas_path_preserves_id_type(spark):
    """The integral-id scorer works in long internally but casts back,
    so int ids do not widen; its values match the expression path."""
    import numpy as np

    from mimic_iv_data_pipeline_spark.operators.similarity import ann_lsh_topk

    rng = np.random.default_rng(7)
    rows = [(int(i), [float(x) for x in rng.normal(size=8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    centroids = rng.normal(size=(4, 8))

    for fn, kw in (
        (ivf_topk, {"n_cells": 4, "n_probe": 4, "centroids": centroids}),
        (ann_lsh_topk, {"dims": 8, "bits": 2}),
    ):
        pand = fn(emb, corpus=emb, k=3, **kw)
        assert pand.schema["query_id"].dataType.simpleString() == "int"
        assert pand.schema["neighbor_id"].dataType.simpleString() == "int"
        assert sorted(map(tuple, pand.collect())) == _expr_path_rows(
            fn, emb, corpus=emb, k=3, **kw
        )


def test_driver_query_cells_match_worker_assignment(spark):
    """ivf_topk assigns query cells on the driver with the worker's
    kernel: the cells must equal _assign_cells_pandas' cells, ties
    going to the lower cell id, and n_probe > n_cells probing all."""
    from mimic_iv_data_pipeline_spark.operators.similarity import (
        _assign_cells_pandas,
        _probe_rows,
    )

    cents = [[0.0, 0.0], [2.0, 0.0], [0.0, 2.0]]
    # (1, 0) ties cells 0 and 1 exactly; (1, 1) ties all three
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.9, 0.1]),
            (3, [-1.0, 3.0]), (4, [1.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for n in (1, 2, 5):
        worker = sorted(
            (r["vec_id"], r["cell"])
            for r in _assign_cells_pandas(df, "vec_id", "embedding", cents, n).collect()
        )
        driver = sorted((i, c) for i, _, c in _probe_rows(rows, cents, n))
        assert driver == worker
    nearest = {i: c for i, _, c in _probe_rows(rows, cents, 1)}
    assert nearest[0] == 0 and nearest[4] == 0
    assert [c for i, _, c in _probe_rows(rows, cents, 5) if i == 4] == [0, 1, 2]


def test_ivf_pandas_query_guard_counts_queries(spark):
    """max_query_rows bounds the collected query side in queries."""
    emb = _emb_fixture(spark)
    cents = [[float((c * 5 + d) % 7) - 3.0 for d in range(8)] for c in range(4)]
    kw = dict(corpus=emb, n_cells=4, n_probe=6, k=3, centroids=cents)
    queries = emb.filter(F.col("vec_id") < 8)
    assert ivf_topk(queries, max_query_rows=8, **kw).count() > 0
    with pytest.raises(ValueError, match="query rows"):
        ivf_topk(queries, max_query_rows=7, **kw)
