"""Round-9 regression pins: the r8 ADVICE fixes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_estimated_jaccard_null_signature_scores_null(spark):
    """A NULL signature must score NULL (matching the lambda
    fallback), NOT hit the raise branch with a misleading 'length
    mismatch' (r8 ADVICE: size(NULL) made `ok` NULL, so otherwise()
    fired and failed the whole job)."""
    from mimic_iv_data_pipeline_spark.operators.incremental import (
        estimated_jaccard,
    )

    df = spark.createDataFrame(
        [([1, 2, 3, 4], None), (None, [1, 2, 3, 4]), (None, None),
         ([1, 2, 3, 4], [1, 2, 9, 4])],
        "a array<bigint>, b array<bigint>",
    )
    rows = df.select(
        estimated_jaccard(F.col("a"), F.col("b"), num_hashes=4).alias("j")
    ).collect()
    assert [r["j"] for r in rows[:3]] == [None, None, None]
    assert rows[3]["j"] == pytest.approx(0.75)
    # and a genuine length mismatch still raises
    from pyspark.errors import PySparkException

    bad = spark.createDataFrame(
        [([1, 2], [1, 2, 3, 4])], "a array<bigint>, b array<bigint>"
    )
    with pytest.raises(PySparkException, match="signature lengths"):
        bad.select(
            estimated_jaccard(F.col("a"), F.col("b"), num_hashes=4).alias("j")
        ).collect()


def test_local_contract_empty_partitions_and_string_ids(spark):
    """_local_contract must survive partitions that receive no rows
    (the empty-frame path now carries explicit dtypes; r8 ADVICE) and
    non-numeric id types."""
    from mimic_iv_data_pipeline_spark.operators.graph import _local_contract

    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("e", "d")], "u string, v string"
    ).repartition(16)  # 3 rows over 16 partitions → ≥13 empty
    out = {tuple(r) for r in _local_contract(edges).collect()}
    # every emitted row is (member, partition-local root), root < member
    assert all(v < u for u, v in out)
    # connectivity preserved: {a,b,c} and {d,e} stay internally linked
    comp = {}
    for u, v in out:
        comp.setdefault(v, set()).update({u, v})
    merged = list(comp.values())
    assert any({"a", "b", "c"} <= (s | {"a"}) or s <= {"a", "b", "c"} for s in merged)


def test_local_contract_register_by_value_is_once():
    """register_pickle_by_value is a process-global side effect — the
    module-level guard must make it a one-shot (r8 ADVICE)."""
    from mimic_iv_data_pipeline_spark.operators import graph

    graph._register_by_value_once()
    assert graph._BY_VALUE_REGISTERED is True
    # idempotent: calling again is a no-op (no exception, flag stays)
    graph._register_by_value_once()
    assert graph._BY_VALUE_REGISTERED is True


def test_local_contract_chunked_output_parity(spark):
    """The chunked (65k-row slice) yield must emit the same star
    forest as a single frame would — pin with a >1-chunk partition."""
    from mimic_iv_data_pipeline_spark.operators.graph import (
        _driver_union_find,
        _local_contract,
    )

    n = 70_000  # one chain → one 69_999-row forest → 2 Arrow slices
    edges = spark.range(1, n).select(
        F.col("id").alias("u"), (F.col("id") - 1).alias("v")
    ).coalesce(1)
    got = _local_contract(edges)
    assert got.count() == n - 1
    # all collapse to root 0 (partition-local union-find sees the chain)
    assert got.select(F.max("v")).first()[0] == 0
    expect = {(x, r) for x, r in _driver_union_find(
        (i, i - 1) for i in range(1, n)
    ) if x != r}
    assert {tuple(r) for r in got.collect()} == expect


def test_connected_components_auto_contract_retry(spark):
    """local_contract='auto' (the new default): small graphs take the
    driver fast path with NO contraction pass; a graph whose raw
    canonical set overflows driver_cap gets contracted once and
    retried — K6 (15 canonical edges, cap=8) contracts to a ≤5-row
    star forest per partition, which fits. Labels must equal the
    explicit True/False paths in all modes."""
    from mimic_iv_data_pipeline_spark.operators.graph import (
        connected_components,
    )

    k6 = [(i, j) for i in range(6) for j in range(6) if i < j]  # 15 edges
    pairs = spark.createDataFrame(
        k6 + [(10, 11)], "id_a bigint, id_b bigint"
    ).coalesce(1)
    expect = sorted([(i, 0) for i in range(6)] + [(10, 10), (11, 10)])
    for mode in ("auto", True, False):
        got = sorted(
            tuple(r)
            for r in connected_components(
                pairs, driver_cap=8, local_contract=mode
            ).collect()
        )
        assert got == expect, f"mode={mode}"
    # auto with cap=0 (forced distributed) pre-contracts; labels equal
    got = sorted(
        tuple(r)
        for r in connected_components(
            pairs, driver_cap=0, local_contract="auto"
        ).collect()
    )
    assert got == expect
    with pytest.raises(ValueError, match="local_contract"):
        connected_components(pairs, local_contract="yes")


def test_build_vocab_distributed_rank_matches_alphabetical(spark):
    """The r9 prefix-bucketed rank must equal the old global-window
    alphabetical ids exactly, including across bucket boundaries."""
    from mimic_iv_data_pipeline_spark.plans.tokenization import build_vocab

    toks = ["aa1", "aa2", "ab1", "b", "ba9", "c", "", "a"]
    seqs = spark.createDataFrame(
        [(1, toks[:4]), (2, toks[4:])], "subject_id long, tokens array<string>"
    )
    vocab = {r["token"]: r["id"] for r in build_vocab(seqs).collect()}
    n_special = 5
    expected = {t: i + n_special for i, t in enumerate(sorted(toks))}
    for t, i in expected.items():
        assert vocab[t] == i, (t, vocab[t], i)
    assert vocab["[PAD]"] == 0 and vocab["[UNK]"] == 4


def test_encode_sequences_without_unk_raises_not_empty(spark):
    """A vocab lacking [UNK] used to EMPTY the output via a bare
    crossJoin with a zero-row relation (r9 review); now: in-vocab
    sequences encode fine, an OOV token raises with a message."""
    from pyspark.errors import PySparkException
    from mimic_iv_data_pipeline_spark.plans.tokenization import (
        encode_sequences,
    )

    vocab = spark.createDataFrame(
        [(0, "x"), (1, "y")], "id long, token string"
    )
    seqs = spark.createDataFrame(
        [(1, ["x", "y", "x"])], "subject_id long, tokens array<string>"
    )
    rows = encode_sequences(seqs, vocab).collect()
    assert rows and rows[0]["token_ids"] == [0, 1, 0]
    oov = spark.createDataFrame(
        [(1, ["x", "zz"])], "subject_id long, tokens array<string>"
    )
    with pytest.raises(PySparkException, match="no .UNK. row"):
        encode_sequences(oov, vocab).collect()


# --- negative_sample (r9 operator) -----------------------------------------

def test_negative_sample_contract(spark):
    """Uniform draws, positive exclusion, deterministic under
    repartitioning, deficit semantics, empty-corpus raise."""
    from mimic_iv_data_pipeline_spark.operators.sampling import (
        negative_sample,
    )

    pos = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 12)], "query_id long, doc_id long"
    )
    corpus = spark.createDataFrame(
        [(d,) for d in range(10, 30)], "doc_id long"
    )
    out = negative_sample(pos, corpus, k=3, salt="t").collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append((r["neg_rank"], r["doc_id"]))
    assert set(by_q) == {1, 2}
    for q, negs in by_q.items():
        assert len(negs) == 3
        assert [rk for rk, _ in sorted(negs)] == [0, 1, 2]
        docs = {d for _, d in negs}
        assert len(docs) == 3  # no duplicate negatives
        assert all(10 <= d < 30 for d in docs)  # drawn from the corpus
    assert all(d not in (10, 11) for _, d in by_q[1])  # positives excluded
    assert all(d != 12 for _, d in by_q[2])

    # layout-stable: 1 partition vs 16 give identical triples
    again = negative_sample(
        pos.repartition(16), corpus.repartition(16), k=3, salt="t"
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    # deficit: corpus of 2 docs, one is the query's positive, k=3 —
    # only 1 legal negative exists and that's what comes back
    tiny = spark.createDataFrame([(10,), (11,)], "doc_id long")
    p1 = spark.createDataFrame([(1, 10)], "query_id long, doc_id long")
    short = negative_sample(p1, tiny, k=3, oversample=12).collect()
    assert [(r["doc_id"], r["neg_rank"]) for r in short] == [(11, 0)]

    with pytest.raises(ValueError, match="empty corpus"):
        negative_sample(p1, tiny.filter(F.lit(False)))


def test_hard_negative_sample_contract(spark):
    """Retrieve-then-exclude semantics: positives never appear, ranks
    are dense by descending similarity, depth bounds the pool."""
    import numpy as np
    from mimic_iv_data_pipeline_spark.operators.sampling import (
        hard_negative_sample,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(12, 8))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    queries = emb.filter(F.col("vec_id") < 2)
    # doc 3 is query 0's positive; doc 4 is query 1's
    pos = spark.createDataFrame(
        [(0, 3), (1, 4)], "query_id long, doc_id long"
    )
    out = hard_negative_sample(pos, queries, emb, k=3, depth=11).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q in (0, 1):
        rows = sorted(by_q[q], key=lambda r: r["neg_rank"])
        assert [r["neg_rank"] for r in rows] == [0, 1, 2]
        sims = [r["cos_sim"] for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(r["doc_id"] != q for r in rows)  # self excluded
    assert all(r["doc_id"] != 3 for r in by_q[0])
    assert all(r["doc_id"] != 4 for r in by_q[1])
    with pytest.raises(ValueError, match="depth"):
        hard_negative_sample(pos, queries, emb, k=5, depth=3)


# --- bench_compare min-of-runs mode (r9) ------------------------------------

def _load_bench_compare_r9():
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "bench_compare.py",
    )
    spec = importlib.util.spec_from_file_location("bench_compare_r9", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_min_of_runs_collapses_to_per_query_min_and_best_canary():
    bc = _load_bench_compare_r9()
    runs = [
        # a mid-battery contention burst the canaries did NOT see
        # (both read calm) — the r9 failure mode worst-of can't fix
        {"queries": {"q1": 2.0, "q2": 1.0}, "canary_sec": 0.5,
         "canary_end_sec": 0.5},
        {"queries": {"q1": 1.5, "q2": 3.0, "q3": 0.4}, "canary_sec": 0.6},
    ]
    m = bc.min_of_runs(runs)
    assert m["queries"] == {"q1": 1.5, "q2": 1.0, "q3": 0.4}
    assert m["canary_sec"] == 0.5  # best observation across all runs
    assert m["n_runs"] == 2
    # the burst-inflated single run flags q1; min-of-runs, where every
    # query keeps its least-contended observation, does not
    old = {"queries": {"q1": 1.4, "q2": 1.0}, "canary_sec": 0.5}
    single = bc.compare(old, runs[0], 1.3, 0.2)
    assert "q1" in single["flagged"]
    merged = bc.compare(old, m, 1.3, 0.2)
    assert merged["flagged"] == []


def test_build_corpus_index_amortized_path(spark):
    """A prebuilt (persisted/written) corpus index must produce
    byte-identical triples to the inline path, survive a parquet
    round-trip (the __n constant column makes it self-describing),
    and raise on an empty corpus."""
    import tempfile
    import shutil

    from mimic_iv_data_pipeline_spark.operators.sampling import (
        build_corpus_index,
        negative_sample,
    )

    corpus = spark.createDataFrame([(d,) for d in range(30, 60)], "doc_id long")
    pos = spark.createDataFrame([(1, 31), (2, 45)], "query_id long, doc_id long")
    inline = sorted(map(tuple, negative_sample(pos, corpus, k=3, salt="x").collect()))
    idx = build_corpus_index(corpus)
    tmp = tempfile.mkdtemp(prefix="negidx_")
    try:
        idx.write.mode("overwrite").parquet(tmp)
        loaded = spark.read.parquet(tmp)
        amort = sorted(
            map(tuple, negative_sample(pos, corpus_index=loaded, k=3, salt="x").collect())
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert inline == amort
    with pytest.raises(ValueError, match="empty corpus"):
        build_corpus_index(corpus.filter(F.lit(False)))
    with pytest.raises(ValueError, match="corpus or corpus_index"):
        negative_sample(pos, k=3)
