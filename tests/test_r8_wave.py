"""Round-8 regression pins: the four r7 ADVICE fixes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_bm25_empty_query_raises(spark):
    """An empty query must raise at call time, not AttributeError at
    plan-build time (r7 advice: the qtf when-chain is never built)."""
    from mimic_iv_data_pipeline_spark.operators.retrieval import bm25_search

    docs = spark.createDataFrame(
        [(1, "spark joins are fast")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="query_terms is empty"):
        bm25_search(docs, [], "doc_id")


def test_estimated_jaccard_rejects_mismatched_signature_length(spark):
    """Signatures built with num_hashes != the scorer's assumption must
    error loudly, not silently score the first 64 elements / NULL-
    poison the estimate (r7 advice on the unrolled element_at path)."""
    from pyspark.errors import PySparkException
    from mimic_iv_data_pipeline_spark.operators.dedup import minhash_signatures
    from mimic_iv_data_pipeline_spark.operators.incremental import (
        estimated_jaccard,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat")],
        "doc_id long, text string",
    )
    sig32 = minhash_signatures(docs, "doc_id", "text", num_hashes=32)
    pair = sig32.alias("a").join(
        sig32.alias("b"), F.col("a.doc") < F.col("b.doc")
    ).select(F.col("a.signature").alias("sa"), F.col("b.signature").alias("sb"))

    def scored(num_hashes):
        return pair.select(
            estimated_jaccard(
                F.col("sa"), F.col("sb"), num_hashes=num_hashes
            ).alias("est")
        )

    # matching length: works and finds the near-dup pair
    assert scored(32).filter(F.col("est") >= 0.3).count() == 1
    # mismatched length: the runtime guard raises instead of silently
    # scoring only the first 64 (or OOB) elements
    with pytest.raises(PySparkException, match="estimated_jaccard"):
        scored(64).collect()


def test_estimated_jaccard_guard_keeps_estimates_exact(spark):
    """The guard must not change the estimate on the happy path."""
    from mimic_iv_data_pipeline_spark.operators.incremental import (
        estimated_jaccard,
    )

    df = spark.createDataFrame(
        [([1, 2, 3, 4], [1, 2, 3, 9])], "a array<bigint>, b array<bigint>"
    )
    unrolled = df.select(estimated_jaccard(F.col("a"), F.col("b"), 4).alias("j"))
    lam = df.select(estimated_jaccard(F.col("a"), F.col("b")).alias("j"))
    assert unrolled.collect()[0]["j"] == pytest.approx(0.75)
    assert lam.collect()[0]["j"] == pytest.approx(0.75)


# --- registry_stats.splice_readme (pure function) ---------------------

def _load_registry_stats():
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "registry_stats.py",
    )
    spec = importlib.util.spec_from_file_location("registry_stats", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


SECTION = (
    "### Driver-window audit (generated by scripts/registry_stats.py)\n\n"
    "| round | rows |\n|---|---|\n\n- never driver-checked: **0**"
)


def test_splice_readme_appends_when_header_absent():
    rs = _load_registry_stats()
    out = rs.splice_readme("# My project\n\nSome prose.\n", SECTION)
    assert out.endswith(SECTION + "\n")
    assert out.startswith("# My project")


def test_splice_readme_replaces_in_place_and_handles_no_trailing_newline():
    rs = _load_registry_stats()
    old = "intro\n\n" + SECTION  # final bullet IS the last line, no \n
    out = rs.splice_readme(old, SECTION.replace("**0**", "**7**"))
    assert "**7**" in out and "**0**" not in out
    assert out.startswith("intro\n\n")


def test_splice_readme_malformed_section_raises_clearly():
    rs = _load_registry_stats()
    broken = "intro\n\n" + rs.AUDIT_HEADER + "\n\ntable but no bullet\n\ntail"
    with pytest.raises(SystemExit, match="malformed"):
        rs.splice_readme(broken, SECTION)


def test_pq_rejects_mismatched_codebook_dims(spark):
    """Codebooks trained for a smaller dimensionality must raise, not
    silently score only the first m*dsub dims (r8 self-review)."""
    import numpy as np
    from mimic_iv_data_pipeline_spark.operators.pq import pq_encode, pq_topk

    rng = np.random.default_rng(3)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    books_4d = rng.normal(size=(2, 4, 2))  # m*dsub = 4 != 8
    with pytest.raises(Exception, match="m\\*dsub"):
        pq_encode(corpus, books_4d).collect()
    with pytest.raises(ValueError, match="m\\*dsub"):
        pq_topk(corpus.limit(2), corpus=corpus, codebooks=books_4d, k=3).collect()


@pytest.mark.parametrize("driver_cap", [1_000_000, 0])
def test_connected_components_local_contract_parity(spark, driver_cap):
    """local_contract=True must label identically on both paths —
    including chains crossing partitions, duplicate/reversed edges,
    self-loops, and isolated nodes (r8: the contraction runs BEFORE
    canonicalization, so it must tolerate all raw-pair shapes)."""
    from mimic_iv_data_pipeline_spark.operators.graph import connected_components

    edges = (
        [(i, i + 1) for i in range(40)]          # 41-node chain
        + [(100 + a, 100 + b) for a in range(6) for b in range(a + 1, 6)]
        + [(7, 7), (200, 201), (201, 200), (0, 1)]  # self-loop + dups
    )
    nodes = sorted({u for e in edges for u in e} | {999})
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"]).repartition(7)
    nodes_df = spark.createDataFrame([(i,) for i in nodes], ["id"])
    base = {
        r["id"]: r["component"]
        for r in connected_components(
            pairs, nodes=nodes_df, driver_cap=driver_cap
        ).collect()
    }
    contracted = {
        r["id"]: r["component"]
        for r in connected_components(
            pairs, nodes=nodes_df, driver_cap=driver_cap, local_contract=True
        ).collect()
    }
    assert contracted == base
    assert contracted[40] == 0 and contracted[999] == 999
