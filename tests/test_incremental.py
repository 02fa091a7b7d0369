"""Incremental dedup against a parquet MinHash index, checked against
independent Python recomputation of the candidate/estimate logic."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.operators.dedup import minhash_signatures
from mimic_iv_data_pipeline_spark.operators.incremental import (
    band_buckets,
    build_minhash_index,
    dedup_against_index,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _python_expected(old_banded, new_banded, old_sigs, new_sigs, threshold):
    """Candidate join + Jaccard estimate re-done in pure Python from
    collected rows — independent of the JVM zip_with/join plan."""
    old_buckets: dict[tuple[int, int], list[int]] = {}
    for r in old_banded:
        old_buckets.setdefault((r["band"], r["bucket"]), []).append(r["doc"])
    pairs = set()
    for r in new_banded:
        for old_id in old_buckets.get((r["band"], r["bucket"]), []):
            pairs.add((r["doc"], old_id))
    out = {}
    for new_id, old_id in pairs:
        a, b = new_sigs[new_id], old_sigs[old_id]
        est = sum(1 for x, y in zip(a, b) if x == y) / len(a)
        if est >= threshold:
            out[(new_id, old_id)] = round(est, 6)
    return out


def test_dedup_against_index_matches_python(spark, docs):
    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    index = build_minhash_index(old, "doc_id", "text")
    got = {
        (r["new_id"], r["index_id"]): r["est_jaccard"]
        for r in dedup_against_index(new, index, "doc_id", "text", threshold=0.3).collect()
    }
    old_sig = minhash_signatures(old, "doc_id", "text")
    new_sig = minhash_signatures(new, "doc_id", "text")
    want = _python_expected(
        band_buckets(old_sig, 64, 16).collect(),
        band_buckets(new_sig, 64, 16).collect(),
        {r["doc"]: r["signature"] for r in old_sig.collect()},
        {r["doc"]: r["signature"] for r in new_sig.collect()},
        0.3,
    )
    assert got == want


def test_planted_duplicate_is_flagged(spark, docs):
    old = docs.filter(F.col("doc_id") < 100)
    index = build_minhash_index(old, "doc_id", "text")
    # exact copy of doc 7 under a new id + one unrelated fresh doc
    copy_text = old.filter(F.col("doc_id") == 7).first()["text"]
    new = spark.createDataFrame(
        [(9001, copy_text), (9002, "entirely unrelated fresh content xyzzy " * 10)],
        "doc_id long, text string",
    )
    got = dedup_against_index(new, index, "doc_id", "text", threshold=0.9).collect()
    flagged = {(r["new_id"], r["index_id"]): r["est_jaccard"] for r in got}
    assert flagged.get((9001, 7)) == 1.0
    assert all(nid != 9002 for (nid, _) in flagged)


def test_index_is_durable_same_family(spark, docs):
    """Signatures computed in a separate 'snapshot' must join the index
    exactly — every doc matches itself at est 1.0."""
    sub = docs.filter(F.col("doc_id") < 60)
    index = build_minhash_index(sub, "doc_id", "text")
    got = dedup_against_index(sub, index, "doc_id", "text", threshold=0.99)
    self_rows = got.filter(F.col("new_id") == F.col("index_id")).collect()
    assert len(self_rows) == 60
    assert all(r["est_jaccard"] == 1.0 for r in self_rows)
