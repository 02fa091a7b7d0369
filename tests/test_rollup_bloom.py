"""Unit tests for incremental rollup maintenance and the Bloom
pre-filtered join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.operators.aggregates import (
    merge_rollup_state,
    rollup_state,
)
from mimic_iv_data_pipeline_spark.operators.sketches import bloom_prefilter_join


def test_merge_equals_from_scratch_for_any_split(spark):
    rows = [(i % 4, float(i) * 1.5 - 3) for i in range(200)]
    df = spark.createDataFrame(rows, ["g", "x"])
    full = {
        r.g: r
        for r in rollup_state(df, ["g"], ["x"]).collect()
    }
    for mod in (2, 3, 7):
        a = df.filter(F.col("x").cast("int") % mod == 0)
        b = df.filter(F.col("x").cast("int") % mod != 0)
        merged = {
            r.g: r
            for r in merge_rollup_state(
                rollup_state(a, ["g"], ["x"]),
                delta=rollup_state(b, ["g"], ["x"]),
                key_cols=["g"],
                measure_cols=["x"],
            ).collect()
        }
        assert set(merged) == set(full)
        for g in full:
            assert merged[g].n == full[g].n
            assert merged[g].min_x == full[g].min_x
            assert merged[g].max_x == full[g].max_x
            assert merged[g].sum_x == pytest.approx(full[g].sum_x, rel=1e-12)


def test_merge_is_associative_over_three_batches(spark):
    df = spark.createDataFrame(
        [(i % 3, float(i)) for i in range(90)], ["g", "x"]
    )
    parts = [df.filter(F.col("x").cast("int") % 3 == k) for k in range(3)]
    states = [rollup_state(p, ["g"], ["x"]) for p in parts]
    left = merge_rollup_state(
        merge_rollup_state(states[0], delta=states[1], key_cols=["g"], measure_cols=["x"]),
        delta=states[2], key_cols=["g"], measure_cols=["x"],
    )
    right = merge_rollup_state(
        states[0],
        delta=merge_rollup_state(states[1], delta=states[2], key_cols=["g"], measure_cols=["x"]),
        key_cols=["g"], measure_cols=["x"],
    )
    assert sorted(map(tuple, left.collect())) == sorted(map(tuple, right.collect()))


def test_rollup_state_validates(spark):
    df = spark.createDataFrame([(1, 2.0)], ["g", "x"])
    with pytest.raises(ValueError):
        rollup_state(df, [], ["x"])
    with pytest.raises(ValueError):
        merge_rollup_state(
            df, delta=rollup_state(df, ["g"], ["x"]), key_cols=["g"], measure_cols=["x"]
        )  # prev lacks state columns


def test_bloom_prefilter_join_equals_plain_join(spark):
    facts = spark.createDataFrame(
        [(i % 50, i) for i in range(500)], ["k", "payload"]
    )
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in range(0, 50, 7)], ["k", "attr"]
    )
    got = bloom_prefilter_join(facts, dim, "k", num_bits=256)
    want = facts.join(dim, "k", "inner")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # tiny filter → real false positives exist; the exact join removed them
    semi = bloom_prefilter_join(facts, dim, "k", num_bits=256, how="left_semi")
    want_semi = facts.join(dim, "k", "left_semi")
    assert sorted(map(tuple, semi.collect())) == sorted(map(tuple, want_semi.collect()))


def test_bloom_prefilter_join_plan_and_validation(spark):
    facts = spark.createDataFrame([(1, 1)], ["k", "p"])
    dim = spark.createDataFrame([(1, "a")], ["k", "a"])
    plan = (
        bloom_prefilter_join(facts, dim, "k", num_hashes=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("LeftSemi") == 3  # the chained broadcast prefilters
    with pytest.raises(ValueError):
        bloom_prefilter_join(facts, dim, "k", how="left")


def test_rollup_avg_with_nulls_uses_nonnull_count(spark):
    df = spark.createDataFrame(
        [(1, 2.0), (1, None), (1, 4.0), (2, None)], "g long, x double"
    )
    st = {r.g: r for r in rollup_state(df, ["g"], ["x"]).collect()}
    assert st[1].n == 3 and st[1].cnt_x == 2 and st[1].sum_x == 6.0
    assert st[2].n == 1 and st[2].cnt_x == 0 and st[2].sum_x is None
    # derived avg must match SQL AVG (null-skipping)
    assert st[1].sum_x / st[1].cnt_x == 3.0


def test_bloom_prefilter_join_rejects_key_dtype_mismatch(spark):
    facts = spark.createDataFrame([(5, 1)], "k int, p int")
    dim = spark.createDataFrame([(5, "a")], "k long, a string")
    with pytest.raises(ValueError, match="dtype mismatch"):
        bloom_prefilter_join(facts, dim, "k")
    # cast resolves it and matches the plain join
    fixed = bloom_prefilter_join(
        facts.withColumn("k", facts["k"].cast("long")), dim, "k"
    )
    assert fixed.count() == 1
