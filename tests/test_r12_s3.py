"""Round-12 third-session pins: funnel fused-count parity and pipeline
boundary schema reuse.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _funnel_fixture(spark):
    # the ordering traps: u2's only click precedes its view (must NOT
    # convert past view), u3 has clicks both before and after signup
    # (must convert), u4 never signs up, u5 dup events
    rows = [
        ("u1", 1, "signup"), ("u1", 2, "view"), ("u1", 3, "click"),
        ("u1", 4, "purchase"),
        ("u2", 1, "signup"), ("u2", 5, "view"), ("u2", 3, "click"),
        ("u3", 2, "click"), ("u3", 3, "signup"), ("u3", 4, "view"),
        ("u3", 5, "click"),
        ("u4", 1, "view"), ("u4", 2, "click"),
        ("u5", 1, "signup"), ("u5", 1, "signup"), ("u5", 2, "view"),
    ]
    return spark.createDataFrame(rows, "user_id string, ts long, event_type string")


def test_funnel_fused_counts_match_stepped(spark):
    """funnel_conversion's single-action fused count must equal the
    stepped (materialized, one count per stage) recurrence exactly."""
    from mimic_iv_data_pipeline_spark.operators.windows import (
        _funnel_frontiers,
        funnel_conversion,
    )

    ev = _funnel_fixture(spark)
    stages = ["signup", "view", "click", "purchase"]
    out = {r["stage"]: r for r in funnel_conversion(ev, stages).collect()}
    stepped = [
        f.count()
        for f in _funnel_frontiers(ev, stages, "user_id", "ts", "event_type")
    ]
    assert [out[s]["users"] for s in stages] == stepped
    # the fixture's hand-checked truth
    assert stepped == [4, 4, 2, 1]
    assert out["signup"]["pct_of_prev"] == 1.0
    assert out["purchase"]["pct_of_first"] == 0.25


def test_timeseries_expand_parallelism_value_parity(spark):
    """The explicit expansion-width repartition must not change a
    single dense row (packed values are partitioning-independent)."""
    from mimic_iv_data_pipeline_spark.plans.timeseries import generate_timeseries

    ev = spark.createDataFrame(
        [(1, 10, float(t), float(v)) for t, v in
         [(0.5, 5.0), (1.5, 7.0), (5.5, 9.0)]]
        + [(2, 10, 2.5, 4.0), (2, 11, 0.5, 1.0)],
        "stay_id long, itemid long, t double, valuenum double",
    )
    cohort = spark.createDataFrame(
        [(1, 30.0), (2, 30.0)], "stay_id long, los_hours double"
    )
    kw = dict(id_col="stay_id", time_col="t", include_hours=8,
              bucket_hours=2, anchor="first", impute="mean")
    plain = generate_timeseries(ev, cohort, **kw)
    wide = generate_timeseries(ev, cohort, expand_parallelism=16, **kw)
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, wide.collect()))
    assert a == b
    assert len(a) == 3 * 4  # 3 observed (id, code) series × 4 buckets


def test_boundary_schema_reuse_matches_inferred_read(spark, tmp_path):
    """_as_nullable(df.schema) handed to spark.read.schema must yield
    the same schema AND rows as the inferred read of the same files,
    including nested array/struct columns."""
    from mimic_iv_data_pipeline_spark.plans.pipeline import _as_nullable

    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") % 7).alias("k"),
        F.array(F.col("id") * 2, F.col("id") * 3).alias("arr"),
        F.struct(F.col("id").alias("a"), F.lit("x").alias("b")).alias("st"),
    )
    path = str(tmp_path / "bnd")
    df.write.mode("overwrite").parquet(path)
    inferred = spark.read.parquet(path)
    supplied = spark.read.schema(_as_nullable(df.schema)).parquet(path)
    assert supplied.schema == inferred.schema
    a = sorted(inferred.collect())
    b = sorted(supplied.collect())
    assert a == b
