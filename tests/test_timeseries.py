"""Golden + property tests for the time-series plan (SURVEY.md §3.3):
dense-grid shape, imputation cascade exactness vs pandas semantics,
medication interval signal, bucket-agg partition invariance."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.operators.temporal import bucketize_events
from mimic_iv_data_pipeline_spark.operators.windows import impute_cascade
from mimic_iv_data_pipeline_spark.plans.timeseries import (
    generate_timeseries,
    medication_signal,
)


@pytest.fixture(scope="module")
def chart_events(spark):
    # (stay_id, itemid, t_hours, value) — already time-normalized
    rows = [
        (201, 220045, 0, 80.0),
        (201, 220045, 0, 84.0),   # same bucket → mean 82
        (201, 220045, 2, 90.0),   # gap at t=1
        (201, 220210, 1, 18.0),
        (202, 220045, 5, 70.0),
    ]
    return spark.createDataFrame(
        rows, "stay_id long, itemid long, event_time_from_admit long, valuenum double"
    )


@pytest.fixture(scope="module")
def ts_cohort(spark):
    return spark.createDataFrame(
        [(201, 48), (202, 48)], "stay_id long, los_hours long"
    )


def test_dense_grid_shape(spark, chart_events, ts_cohort):
    out = generate_timeseries(
        chart_events, ts_cohort, include_hours=4, bucket_hours=1
    )
    # (201,220045): 4 buckets; (201,220210): 4; (202,220045): events at
    # t=5 truncated away entirely → code unobserved → absent
    assert out.count() == 8
    keys = {(r["stay_id"], r["itemid"]) for r in out.collect()}
    assert keys == {(201, 220045), (201, 220210)}


def test_bucket_mean_and_counts(spark, chart_events, ts_cohort):
    out = generate_timeseries(chart_events, ts_cohort, include_hours=4, bucket_hours=1)
    got = {
        (r["stay_id"], r["itemid"], r["bucket"]): (r["value"], r["n_events"])
        for r in out.collect()
    }
    assert got[(201, 220045, 0)] == (82.0, 2)  # mean of 80, 84
    assert got[(201, 220045, 1)] == (None, 0)  # gap, not imputed
    assert got[(201, 220045, 2)] == (90.0, 1)


def test_impute_cascade_semantics(spark, chart_events, ts_cohort):
    out = generate_timeseries(
        chart_events, ts_cohort, include_hours=4, bucket_hours=1, impute="mean"
    )
    got = {
        (r["stay_id"], r["itemid"], r["bucket"]): r["value"] for r in out.collect()
    }
    # ffill fills t=1 and t=3 from preceding values (82 @0 → t=1; 90 @2 → t=3)
    assert got[(201, 220045, 1)] == 82.0
    assert got[(201, 220045, 3)] == 90.0
    # itemid 220210: only t=1 has 18.0; t=0 has no preceding → bfill 18.0
    assert got[(201, 220210, 0)] == 18.0
    assert got[(201, 220210, 3)] == 18.0


def test_impute_cascade_all_null_group(spark):
    df = spark.createDataFrame(
        [(1, 0, None), (1, 1, None)], "id long, t long, v double"
    )
    out = impute_cascade(df, "v", "id", "t", strategy="mean", default=0.0)
    assert [r["v"] for r in out.collect()] == [0.0, 0.0]


def test_readmission_anchor_window(spark, chart_events, ts_cohort):
    # anchor='last': keep the LAST include_hours; events shift by los-include
    out = generate_timeseries(
        chart_events,
        ts_cohort,
        include_hours=44,
        bucket_hours=1,
        anchor="last",
    )
    # shift = 48-44 = 4; event t=5 (stay 202) → t=1 survives; stay 201
    # events at t∈{0,0,2,1} shift to negatives → dropped
    keys = {(r["stay_id"], r["itemid"]) for r in out.collect()}
    assert keys == {(202, 220045)}
    vals = {
        r["bucket"]: r["value"]
        for r in out.filter(F.col("stay_id") == 202).collect()
    }
    assert vals[1] == 70.0


def test_medication_signal(spark):
    meds = spark.createDataFrame(
        [
            (201, 1, 0, 3),    # covers buckets 0,1,2
            (201, 1, 2, 5),    # overlap → still one signal row per bucket
            (201, 2, 10, 100), # stop clamped to include → buckets 10,11
        ],
        "stay_id long, itemid long, start_hours long, stop_hours long",
    )
    out = medication_signal(meds, include_hours=12, bucket_hours=1)
    got = sorted(
        (r["itemid"], r["bucket"]) for r in out.collect()
    )
    assert got == [(1, 0), (1, 1), (1, 2), (1, 3), (1, 4), (2, 10), (2, 11)]
    assert out.filter(F.col("signal") != 1).count() == 0


def test_bucketize_partition_invariance(spark, chart_events):
    """T3 property: result independent of physical partitioning."""
    agg = [F.avg("valuenum").alias("v"), F.count(F.lit(1)).alias("n")]

    def run(df):
        return sorted(
            (
                (r["stay_id"], r["itemid"], r["bucket"], r["v"], r["n"])
                for r in bucketize_events(
                    df, "event_time_from_admit", 2, ["stay_id", "itemid"], agg
                ).collect()
            )
        )

    assert run(chart_events.repartition(1)) == run(chart_events.repartition(7, "itemid"))


def test_medication_signal_fractional(spark):
    """Fractional endpoints and negative starts (ADVICE r1): a
    sub-bucket interval hits exactly its containing bucket(s), never a
    spurious bucket -1; negative starts clamp to 0."""
    meds = spark.createDataFrame(
        [
            (1, 1, 0.2, 0.5),    # inside bucket 0
            (1, 2, 1.9, 2.1),    # straddles buckets 1 and 2
            (1, 3, -3.0, 1.5),   # negative start → clamped, buckets 0,1
            (1, 4, 2.5, 7.0),    # bucket_hours=1 → buckets 2..6
        ],
        "stay_id long, itemid long, start_hours double, stop_hours double",
    )
    out = medication_signal(meds, include_hours=12, bucket_hours=1)
    got = sorted((r["itemid"], r["bucket"]) for r in out.collect())
    assert got == [
        (1, 0),
        (2, 1), (2, 2),
        (3, 0), (3, 1),
        (4, 2), (4, 3), (4, 4), (4, 5), (4, 6),
    ]
    # bucket_hours > 1 with fractional stop: [0.2, 2.5) on 2h buckets
    # covers buckets 0 and 1 (the old floor((stop-1)/bh) missed bucket 1)
    meds2 = spark.createDataFrame(
        [(1, 1, 0.2, 2.5)],
        "stay_id long, itemid long, start_hours double, stop_hours double",
    )
    out2 = medication_signal(meds2, include_hours=12, bucket_hours=2)
    assert sorted(r["bucket"] for r in out2.collect()) == [0, 1]


def test_interval_signal_matches_join_form(spark):
    """The exploded equi-join form must agree with the direct
    definition (signal=1 iff any interval satisfies start <= t < stop)
    on randomized intervals, including fractional/negative endpoints and
    ids with no intervals at all."""
    import random

    from mimic_iv_data_pipeline_spark.operators.temporal import (
        densify_time_grid,
        interval_signal,
    )

    rng = random.Random(7)
    anchors = spark.createDataFrame(
        [(i, rng.randint(1, 20)) for i in range(30)], "id long, glen long"
    )
    grid = densify_time_grid(anchors, "id", "glen", time_col="t")
    ivs = [
        (rng.randint(0, 24), rng.uniform(-5, 25), rng.uniform(0, 8))
        for _ in range(120)
    ]
    intervals = spark.createDataFrame(
        [(i, s, s + d) for i, s, d in ivs],
        "id long, start_time double, stop_time double",
    )
    out = {
        (r["id"], r["t"]): r["signal"]
        for r in interval_signal(grid, intervals, "id").collect()
    }
    # brute-force reference on the driver
    grid_rows = [(r["id"], r["t"]) for r in grid.collect()]
    assert len(out) == len(grid_rows)
    for gid, t in grid_rows:
        want = int(
            any(i == gid and s <= t < e for i, s, d in ivs for e in [s + d])
        )
        assert out[(gid, t)] == want, (gid, t)


def test_pinned_inputs_plan_shape(spark):
    """run_pipeline hands generate_timeseries two pins derived from
    joins, whose size estimates (the product of the join inputs) sit far
    above the broadcast threshold. The wide path must still broadcast
    the cohort and shuffle only for the (id, code) aggregate and the
    explicit expansion repartition — no sort-merge join of the pins, no
    separate per-bucket aggregate."""
    import re

    from mimic_iv_data_pipeline_spark.engine import materialize

    threshold = int(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))

    def pin_from_join(df):
        pinned = materialize(df.join(df.select("stay_id").distinct(), "stay_id"))
        est = pinned._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        assert int(est) > threshold, "fixture too small to hide its size"
        return pinned

    events = pin_from_join(
        spark.createDataFrame(
            [(i % 500, 220045 + i % 3, float(i % 24), float(i)) for i in range(3000)],
            "stay_id long, itemid long, event_time_from_admit double, valuenum double",
        )
    )
    cohort = pin_from_join(
        spark.createDataFrame([(i, 48.0) for i in range(1000)], "stay_id long, los_hours double")
    )
    out = generate_timeseries(
        events, cohort, include_hours=24, bucket_hours=2, impute="mean",
        expand_parallelism=4,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning.*ENSURE_REQUIREMENTS", plan)) == 1, plan
    assert len(re.findall(r"Exchange hashpartitioning.*REPARTITION_BY_NUM", plan)) == 1, plan
    assert out.count() == 500 * 3 * 12


def test_wide_pack_matches_map_fallback(spark, chart_events, ts_cohort):
    """Optimization r11: generate_timeseries has two implementations —
    the ≤96-bucket wide conditional-aggregate codegen path and the
    >96-bucket map/HOF fallback. They must be the same function: with
    all events far below bucket 96, the fallback run's grid restricted
    to the wide run's buckets must match cell-for-cell (same doubles,
    same counts) for every impute mode."""
    for imp in (None, "mean", "median"):
        wide = generate_timeseries(
            chart_events, ts_cohort, include_hours=96, bucket_hours=1, impute=imp
        )  # n_buckets = 96 → wide path
        fb = generate_timeseries(
            chart_events, ts_cohort, include_hours=100, bucket_hours=1, impute=imp
        )  # n_buckets = 100 → map/HOF fallback
        a = {
            (r["stay_id"], r["itemid"], r["bucket"]): (r["value"], r["n_events"])
            for r in wide.collect()
        }
        b = {
            (r["stay_id"], r["itemid"], r["bucket"]): (r["value"], r["n_events"])
            for r in fb.collect()
            if r["bucket"] < 96
        }
        assert a == b
