"""Aggregate-operator tests: complete-case counts in ``smd_balance``,
and the number of jobs that building ``ks_statistic`` starts."""

from __future__ import annotations


def test_smd_balance_null_covariate_complete_case(spark):
    """A NULL-bearing covariate must use its own non-null count, not a
    shared count(*): the old shared-n formula counted NULL rows in the
    denominator while the sums skipped them (deflated mean/var — the
    anova_oneway complete-case failure mode)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import smd_balance

    rows = [
        # g, x (no nulls), y (half null in group a)
        ("a", 10, 100), ("a", 20, None), ("a", 30, 200), ("a", 40, None),
        ("b", 10, 100), ("b", 20, 150), ("b", 30, 200), ("b", 40, 250),
    ]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    out = {r["covariate"]: r for r in smd_balance(df, "g", ["x", "y"]).collect()}
    # x: complete on both sides
    assert out["x"]["n_a"] == 4 and out["x"]["n_b"] == 4
    assert out["x"]["mean_a"] == 25.0
    # y in group a: mean over the TWO non-null rows = 150, var = 5000
    assert out["y"]["n_a"] == 2
    assert out["y"]["mean_a"] == 150.0
    assert out["y"]["var_a"] == 5000.0
    # group b complete: mean 175, var 4166.66..
    assert out["y"]["n_b"] == 4
    assert out["y"]["mean_b"] == 175.0
    # NULL group rows are excluded entirely
    with_null_g = spark.createDataFrame(
        rows + [(None, 99, 99)], "g string, x long, y long"
    )
    out2 = {r["covariate"]: r for r in smd_balance(with_null_g, "g", ["x"]).collect()}
    assert out2["x"]["n_a"] == 4 and out2["x"]["n_b"] == 4


def test_ks_statistic_build_collects_bounds_once(spark, sf_smoke, jobs_started):
    """Building q167 pins the grid (5 jobs) and collects ONE set of
    quantile bounds for both CDFs (2 jobs, one ``global_prefix_sums``
    call). One prefix-sum pass per CDF collected a second set over the
    first pass's output: 9 jobs."""
    from mimic_iv_data_pipeline_spark.queries import all_queries

    q167 = all_queries()["q167_ks_statistic"]
    q167(spark, sf_smoke)  # the schema inference job, once
    assert len(jobs_started(lambda: q167(spark, sf_smoke))) == 7
