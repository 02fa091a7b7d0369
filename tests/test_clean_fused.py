"""majority_unit_clamp (r11 fused A7+A8) == the sequential
filter_majority_unit → clamp_outliers pair, bit-exactly, on fixtures
constructed to hit every branch of the group-level dichotomy the fusion
relies on (see the operator docstring's value-identity argument)."""

from __future__ import annotations

import random

import pytest

from mimic_iv_data_pipeline_spark.operators.aggregates import (
    clamp_outliers,
    filter_majority_unit,
    majority_unit_clamp,
)


@pytest.fixture(scope="module")
def fixture_df(spark):
    rng = random.Random(7)
    rows = []
    # dominant unit (share > cutoff) with minority-unit outliers and
    # NULL-unit rows (dropped with the minority when a majority wins)
    for _ in range(200):
        rows.append((1, "bpm", rng.gauss(70, 10)))
    rows += [(1, "BPM", 9999.0)] * 4 + [(1, None, 55.0)] * 3
    # split units (share <= cutoff): group passes through unfiltered,
    # bounds over ALL rows including the NULL-unit one
    rows += [(2, "mg", float(i)) for i in range(60)]
    rows += [(2, "g", float(i) * 1000) for i in range(50)]
    rows.append((2, None, -5.0))
    # all-NULL units: no election, bounds over everything
    rows += [(3, None, float(i)) for i in range(30)]
    # NULL values only: percentile is NULL; clamp keeps, drop drops
    rows += [(4, "u", None), (4, "u", None)]
    # exact count tie between units: tie-break = unit asc
    rows += [(5, "a", float(i)) for i in range(10)]
    rows += [(5, "b", float(i) + 100) for i in range(10)]
    # share exactly AT the cutoff (19/20 = 0.95): <= cutoff keeps all
    rows += [(6, "x", float(i)) for i in range(19)] + [(6, "y", -1.0)]
    return spark.createDataFrame(rows, "itemid int, uom string, val double")


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.mark.parametrize("mode", ["clamp", "drop"])
@pytest.mark.parametrize("cutoff", [0.95, 0.5])
def test_fused_equals_sequential(fixture_df, mode, cutoff):
    seq = clamp_outliers(
        filter_majority_unit(fixture_df, "itemid", "uom", cutoff=cutoff),
        "itemid",
        "val",
        0.02,
        0.98,
        mode=mode,
    )
    fus = majority_unit_clamp(
        fixture_df, "itemid", "uom", "val", cutoff, 0.02, 0.98, mode=mode
    )
    assert seq.columns == fus.columns
    assert _rows(seq) == _rows(fus)


def test_fused_plan_aggregates_once(fixture_df):
    """The grouping-sets aggregate has ONE consumer, so its Expand runs
    once: the input is read by that aggregate and by the final probe,
    not by a second copy of the aggregate."""
    plan = majority_unit_clamp(
        fixture_df, "itemid", "uom", "val"
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand [") == 1, plan


def test_fused_share_at_cutoff_keeps_group(fixture_df):
    """Boundary semantics: share == cutoff is NOT a majority win (the
    filter keeps every row, reference drop_wrong_uom's > comparison) —
    group 6's minority row must survive both paths."""
    fus = majority_unit_clamp(
        fixture_df, "itemid", "uom", "val", 0.95, 0.02, 0.98, mode="clamp"
    )
    got = [r for r in fus.collect() if r["itemid"] == 6 and r["uom"] == "y"]
    assert len(got) == 1


def test_summary_single_pass(spark):
    """generate_summary's one-pass shape == the r11-open two-scan+join
    shape, bit-exactly (total/missing are associative integer sums of
    the per-visit partials; rounding applied at identical points)."""
    from pyspark.sql import functions as F

    from mimic_iv_data_pipeline_spark.functions.rounding import dround
    from mimic_iv_data_pipeline_spark.plans.features import generate_summary

    rng = random.Random(11)
    rows = []
    for code in range(1, 6):
        for visit in range(1, 40):
            for _ in range(rng.randrange(0, 7)):
                v = rng.choice([0.0, 0.0, None, rng.uniform(-5, 5)])
                rows.append((visit, code, v))
    df = spark.createDataFrame(rows, "stay_id int, itemid int, valuenum double")

    def reference(events, visit_col, code_col, value_col):
        per_visit = events.groupBy(code_col, visit_col).agg(
            F.count(F.lit(1)).alias("per_visit_cnt")
        )
        freq = per_visit.groupBy(code_col).agg(
            dround(F.avg("per_visit_cnt"), 6).alias("mean_frequency")
        )
        aggs = [F.count(F.lit(1)).alias("total_count")]
        if value_col is not None:
            aggs.append(
                dround(
                    F.sum(F.when(F.col(value_col) == 0, 1).otherwise(0))
                    * 100.0
                    / F.count(F.lit(1)),
                    6,
                ).alias("missing_pct")
            )
        totals = events.groupBy(code_col).agg(*aggs)
        return totals.join(freq, on=code_col, how="left")

    for value_col in ("valuenum", None):
        want = reference(df, "stay_id", "itemid", value_col)
        got = generate_summary(df, "stay_id", "itemid", value_col)
        assert got.columns == want.columns
        assert _rows(got) == _rows(want)


def test_clean_events_routes_through_fused(spark):
    """clean_events with both stages active must produce the same rows
    as the sequential operators it replaced (guards the plans/ wiring,
    not just the operator)."""
    from mimic_iv_data_pipeline_spark.plans.features import clean_events

    df = spark.createDataFrame(
        [(1, "a", float(v)) for v in range(50)]
        + [(1, "b", 1e6)]
        + [(2, None, 3.0), (2, None, 4.0)],
        "itemid int, valueuom string, valuenum double",
    )
    seq = clamp_outliers(
        filter_majority_unit(df, "itemid", "valueuom", cutoff=0.95),
        "itemid",
        "valuenum",
        0.02,
        0.98,
        mode="clamp",
    )
    got = clean_events(df, uom_cutoff=0.95, outlier_pcts=(0.02, 0.98))
    assert _rows(got) == _rows(seq)
