"""clean_web_text rules + registry-sample invariance to the shuffle
partition count (the content-addressed design's core promise)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.operators.text import clean_web_text


def _clean_one(spark, raw: str) -> str:
    df = spark.createDataFrame([(raw,)], "raw string")
    return df.select(clean_web_text(F.col("raw")).alias("c")).first()["c"]


def test_clean_strips_scripts_and_tags(spark):
    raw = '<html><script>alert("x")</script><p>keep <b>this</b></p><style>.a{}</style></html>'
    assert _clean_one(spark, raw) == "keep this"


def test_clean_decodes_entities(spark):
    assert _clean_one(spark, "a &amp; b &lt;c&gt; &quot;d&quot;") == 'a & b <c> "d"'


def test_clean_repairs_mojibake(spark):
    # build the classic UTF-8-as-cp1252 sequences from codepoints (some
    # involve C1 controls that can't appear raw in source)
    rsq = "â€™"   # broken right single quote
    ell = "â€¦"   # broken ellipsis
    eac = "Ã©"          # broken e-acute
    raw = f"it{rsq}s caf{eac}{ell}"
    assert _clean_one(spark, raw) == "it's café..."


def test_clean_stages_are_independent(spark):
    # each rule touches only its own pattern: tags strip before entities
    # decode, so a decoded "&lt;b&gt;" stays text
    assert _clean_one(spark, "<b>x</b> &amp; y") == "x & y"
    assert _clean_one(spark, "&lt;b&gt;x") == "<b>x"
    assert _clean_one(spark, "a   b\t c") == "a b c"


@pytest.mark.parametrize(
    "qname",
    [
        "q03_revenue_by_nation",
        "q15_mode_per_group",
        "q39_ngram_jaccard",
        "q64_hash_split",
        "q96_weighted_sample",
        "q108_kneser_ney",
        "q116_theta_sets",
        "q118_mask_layout",
        # r5 second wave: iterative fixpoint, single-exchange history,
        # monoid merge
        "q142_pagerank",
        "q139_scd2_history",
        "q146_incremental_rollup",
        # r5 third wave: oriented wedge join, distributed prefix sum,
        # out-of-fold encoding — the ones whose partitioning carries
        # correctness weight
        "q151_triangle_count",
        "q154_target_encoding",
        "q155_token_budget",
    ],
)
def test_results_invariant_to_shuffle_partition_count(spark, sf_smoke, qname):
    """A representative slice of the registry must return identical
    rows under 4 vs 64 shuffle partitions — sampling, splits, windows,
    and sketches are all content-addressed, never partition-addressed."""
    from mimic_iv_data_pipeline_spark.queries import all_queries

    fn = all_queries()[qname]
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        a = sorted(map(tuple, fn(spark, sf_smoke).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "64")
        b = sorted(map(tuple, fn(spark, sf_smoke).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert a == b
