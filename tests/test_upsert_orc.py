"""SCD-1 upsert semantics and plan-shape pins."""

from __future__ import annotations

from mimic_iv_data_pipeline_spark.operators.joins import upsert_latest


def test_upsert_semantics(spark):
    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 5)],
        "k long, v string, version long",
    )
    updates = spark.createDataFrame(
        [(2, "B", 2), (3, "C", 5), (4, "d", 1)],  # 3: tie on version
        "k long, v string, version long",
    )
    got = {r["k"]: (r["v"], r["version"]) for r in upsert_latest(base, updates=updates, key_cols=["k"], version_col="version").collect()}
    assert got[1] == ("a", 1)  # untouched base row survives
    assert got[2] == ("B", 2)  # higher version wins
    assert got[3] == ("C", 5)  # tie goes to the update
    assert got[4] == ("d", 1)  # pure insert
    assert len(got) == 4


def test_upsert_stale_update_loses(spark):
    base = spark.createDataFrame([(1, "new", 9)], "k long, v string, version long")
    updates = spark.createDataFrame([(1, "old", 3)], "k long, v string, version long")
    row = upsert_latest(base, updates=updates, key_cols=["k"], version_col="version").first()
    assert (row["v"], row["version"]) == ("new", 9)


def test_plan_shape_pins(spark, sf_dir):
    """Pin the physical strategies the scale story depends on: small
    dims broadcast, TakeOrdered instead of global sorts, parquet
    filter pushdown reaching the scan."""
    from mimic_iv_data_pipeline_spark.queries import all_queries

    qs = all_queries()
    p_q03 = qs["q03_revenue_by_nation"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p_q03, "dimension joins must broadcast"

    p_q96 = qs["q96_weighted_sample"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p_q96, "top-k must not global-sort"
    assert "Sort [" not in p_q96.replace("TakeOrderedAndProject", ""), p_q96[:500]

    p_q02 = qs["q02_filter_project"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in p_q02
    # at least one real pushed filter, not an empty list
    pushed = p_q02.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), "filters must reach the parquet scan"
