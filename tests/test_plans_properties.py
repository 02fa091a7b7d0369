"""Physical-plan regression tests (the plan IS the product at 100 TB)
and hypothesis property tests against python reference implementations."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.operators.joins import asof_join
from mimic_iv_data_pipeline_spark.operators.aggregates import mode_per_group
from mimic_iv_data_pipeline_spark.operators.windows import impute_cascade
from mimic_iv_data_pipeline_spark.queries import all_queries


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q03_broadcasts_all_dims(spark):
    df = all_queries()["q03_revenue_by_nation"](spark, "/root/testdata/sf0.01")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q01_pushes_filter_to_scan(spark):
    df = all_queries()["q01_pricing_summary"](spark, "/root/testdata/sf0.01")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q01_prunes_columns(spark):
    df = all_queries()["q01_pricing_summary"](spark, "/root/testdata/sf0.01")
    plan = _plan(df)
    # l_orderkey must NOT be read — only the 7 needed columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema and "l_quantity" in read_schema


def test_asof_join_is_not_nested_loop(spark):
    """J7's scale guarantee: with broadcast disabled (as at 100 TB), the
    as-of join must plan as an equi sort-merge join with a range
    residual — never BroadcastNestedLoopJoin (SURVEY.md §4)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left = spark.range(100).select(
            F.col("id").alias("subject_id"), F.col("id").cast("timestamp").alias("charttime")
        )
        right = spark.range(100).select(
            F.col("id").alias("subject_id"),
            F.col("id").cast("timestamp").alias("admittime"),
            (F.col("id") + 10).cast("timestamp").alias("dischtime"),
        )
        out = asof_join(
            left, right, on="subject_id", left_time="charttime",
            right_start="admittime", right_end="dischtime",
        )
        plan = _plan(out)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


# --- hypothesis property tests ---------------------------------------------

asof_events = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=20
)
asof_intervals = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 40), st.integers(0, 15)),
    min_size=1,
    max_size=10,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(events=asof_events, intervals=asof_intervals)
def test_asof_join_property(spark, events, intervals):
    """asof_join == python reference: per event, the containing interval
    of the same key minimizing (t - start); ties → smallest start rank
    then explicit tie-break id."""
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(events)], "k long, t long, eid long"
    )
    right = spark.createDataFrame(
        [(k, s, s + d, j) for j, (k, s, d) in enumerate(intervals)],
        "k long, s long, e long, rid long",
    )
    out = asof_join(
        left, right, on="k", left_time="t", right_start="s", right_end="e",
        tie_break=[F.col("rid").asc()],
    )
    got = {r["eid"]: r["rid"] for r in out.collect()}

    for i, (k, t) in enumerate(events):
        matches = [
            (t - s, j)
            for j, (k2, s, d) in enumerate(intervals)
            if k2 == k and s <= t <= s + d
        ]
        expect = min(matches)[1] if matches else None
        assert got[i] == expect, f"event {i}: got {got[i]} expect {expect}"
    assert len(got) == len(events)  # left-preserving


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    data=st.lists(
        st.tuples(st.integers(0, 2), st.one_of(st.none(), st.integers(-5, 5))),
        min_size=1,
        max_size=25,
    )
)
def test_impute_cascade_property(spark, data):
    """impute_cascade == pandas ffill→bfill→mean→0 per group."""
    rows = [(k, i, float(v) if v is not None else None) for i, (k, v) in enumerate(data)]
    df = spark.createDataFrame(rows, "k long, t long, v double")
    got = {
        (r["k"], r["t"]): r["v"]
        for r in impute_cascade(df, "v", "k", "t", strategy="mean").collect()
    }
    pdf = pd.DataFrame(rows, columns=["k", "t", "v"]).sort_values(["k", "t"])
    for k, g in pdf.groupby("k"):
        s = g["v"].astype("float64").ffill().bfill()
        s = s.fillna(s.mean()).fillna(0.0)
        for t, v in zip(g["t"], s):
            assert got[(k, t)] == pytest.approx(v), (k, t)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    data=st.lists(
        st.tuples(st.integers(0, 2), st.sampled_from(["a", "b", "c"])),
        min_size=1,
        max_size=30,
    )
)
def test_mode_per_group_property(spark, data):
    from collections import Counter

    df = spark.createDataFrame(data, "k long, v string")
    got = {r["k"]: (r["v"], r["share"]) for r in mode_per_group(df, "k", "v").collect()}
    groups: dict[int, list] = {}
    for k, v in data:
        groups.setdefault(k, []).append(v)
    for k, vals in groups.items():
        counts = Counter(vals)
        best = max(counts.items(), key=lambda kv: (kv[1], [-ord(c) for c in kv[0]]))
        # tie-break: highest count, then lexicographically smallest value
        top = min([v for v, c in counts.items() if c == best[1]])
        assert got[k][0] == top
        assert got[k][1] == pytest.approx(counts[top] / len(vals))


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(events=asof_events, intervals=asof_intervals)
def test_asof_union_strategy_equals_join_strategy(spark, events, intervals):
    """Backward as-of: the linear union+last strategy must equal the
    range-join strategy row for row (same tolerance, same tie-break)."""
    from datetime import datetime, timedelta

    base = datetime(2150, 1, 1)
    left = spark.createDataFrame(
        [(k, base + timedelta(hours=t), i) for i, (k, t) in enumerate(events)],
        "k long, t timestamp, eid long",
    )
    right = spark.createDataFrame(
        [(k, base + timedelta(hours=s), j) for j, (k, s, _d) in enumerate(intervals)],
        "k long, s timestamp, rid long",
    )
    tol = 10 * 3600
    join_out = asof_join(
        left, right, on="k", left_time="t", right_start="s",
        direction="backward",
        tolerance_expr=(
            F.unix_timestamp(F.col("t")) - F.unix_timestamp(F.col("s")) <= tol
        ),
        tie_break=[F.col("rid").desc()],
    )
    union_out = asof_join(
        left, right, on="k", left_time="t", right_start="s",
        direction="backward", strategy="union",
        union_tie_cols=["rid"], tolerance_seconds=tol,
    )
    j = {r["eid"]: r["rid"] for r in join_out.collect()}
    u = {r["eid"]: r["rid"] for r in union_out.collect()}
    assert j == u
