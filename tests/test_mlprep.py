"""Masking-layout and hashed-linear-score properties. (Exact values are
oracle-checked via q117/q118.)"""

from __future__ import annotations

from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.operators.mlprep import (
    default_hash_weights,
    hashed_linear_score,
    mask_layout,
    target_encode_kfold,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_mask_layout_deterministic_and_repartition_stable(spark, docs):
    sub = docs.limit(60)
    a = {r["doc_id"]: r["masked_pos_csv"] for r in mask_layout(sub, "doc_id", "text").collect()}
    b = {
        r["doc_id"]: r["masked_pos_csv"]
        for r in mask_layout(
            sub.repartition(13), "doc_id", "text"
        ).collect()
    }
    assert a == b


def test_mask_layout_spans_are_runs(spark, docs):
    """With span_len=L every masked region must be a run of length ≥
    min(L, distance-to-end) — starts extend L positions forward."""
    L = 4
    rows = mask_layout(docs.limit(80), "doc_id", "text", mask_rate=0.2, span_len=L).collect()
    saw_mask = False
    for r in rows:
        if not r["masked_pos_csv"]:
            continue
        saw_mask = True
        positions = [int(x) for x in r["masked_pos_csv"].split(",")]
        assert r["n_masked"] == len(positions)
        assert positions == sorted(set(positions))
        # every maximal run must have length >= min(L, tokens after its
        # start) — a shorter interior run would mean a span was cut off
        runs = []
        start = prev = positions[0]
        for p in positions[1:]:
            if p == prev + 1:
                prev = p
            else:
                runs.append((start, prev))
                start = prev = p
        runs.append((start, prev))
        for s, e in runs:
            run_len = e - s + 1
            assert run_len >= min(L, r["n_tokens"] - s), (r["doc_id"], s, e)


def test_mask_rate_tracks_target(spark, docs):
    out = mask_layout(docs, "doc_id", "text", mask_rate=0.15, span_len=3)
    agg = out.agg(
        (F.sum("n_masked") / F.sum("n_tokens")).alias("overall")
    ).first()
    assert 0.08 <= agg["overall"] <= 0.25, agg["overall"]


def test_hashed_score_bounds_and_determinism(spark, docs):
    w = default_hash_weights(256)
    sub = docs.limit(50)
    a = {r["doc_id"]: r["score"] for r in hashed_linear_score(sub, "doc_id", "text", w).collect()}
    b = {
        r["doc_id"]: r["score"]
        for r in hashed_linear_score(sub.repartition(7), "doc_id", "text", w).collect()
    }
    assert a == b
    assert all(0.0 < v < 1.0 for v in a.values())


def test_hashed_score_separates_planted_classes(spark):
    """A weight vector trained to like one token must rank docs rich in
    that token above docs without it — the plumbing must preserve
    signal, not just compute."""
    import hashlib

    n = 256
    # find the bucket of the liked token and weight it strongly
    bucket = int(hashlib.md5(b"feat:good").hexdigest()[:8], 16) % n
    w = [0.0] * n
    w[bucket] = 5.0
    df = spark.createDataFrame(
        [(1, "good good good stuff"), (2, "plain boring text here")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["score"] for r in hashed_linear_score(df, "doc_id", "text", w).collect()}
    assert got[1] > got[2]
    # doc 1: 3 of 7 features (unigrams+bigrams) hit the liked bucket →
    # sigmoid(15/7) ≈ 0.895
    assert got[1] > 0.85


def test_target_encoding_leakage_safe(spark):
    data = [(i, "ab"[i % 2], float(i % 3 == 0)) for i in range(200)]
    df = spark.createDataFrame(data, "id long, cat string, y double")
    out = target_encode_kfold(
        df, key_col="id", cat_col="cat", label_col="y", k=4, smoothing=5.0,
    ).collect()
    # Python reference from the rows' own fold assignments.
    folds = {r["id"]: r["fold"] for r in out}
    s_cf, c_cf, s_f, c_f = (
        defaultdict(float), defaultdict(int), defaultdict(float), defaultdict(int)
    )
    for i, cat, y in data:
        f = folds[i]
        s_cf[(cat, f)] += y
        c_cf[(cat, f)] += 1
        s_f[f] += y
        c_f[f] += 1
    s_g, c_g = sum(s_f.values()), sum(c_f.values())
    for r in out:
        cat, f = r["cat"], r["fold"]
        s_c = sum(v for (c0, _), v in s_cf.items() if c0 == cat)
        c_c = sum(v for (c0, _), v in c_cf.items() if c0 == cat)
        prior = (s_g - s_f[f]) / (c_g - c_f[f])
        want = ((s_c - s_cf[(cat, f)]) + 5.0 * prior) / ((c_c - c_cf[(cat, f)]) + 5.0)
        assert r["te"] == pytest.approx(want, abs=1e-9)
