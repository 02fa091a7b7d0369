"""Funnel pins (a stepped Python reference of the recurrence, a
property test against it, plan guards) and pipeline boundary schema
reuse.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


# the ordering traps: u2's only click precedes its view (must NOT
# convert past view), u3 has clicks both before and after signup
# (must convert), u4 never signs up, u5 dup events
_FUNNEL_ROWS = [
    ("u1", 1, "signup"), ("u1", 2, "view"), ("u1", 3, "click"),
    ("u1", 4, "purchase"),
    ("u2", 1, "signup"), ("u2", 5, "view"), ("u2", 3, "click"),
    ("u3", 2, "click"), ("u3", 3, "signup"), ("u3", 4, "view"),
    ("u3", 5, "click"),
    ("u4", 1, "view"), ("u4", 2, "click"),
    ("u5", 1, "signup"), ("u5", 1, "signup"), ("u5", 2, "view"),
]


def _funnel_fixture(spark):
    return spark.createDataFrame(
        _FUNNEL_ROWS, "user_id string, ts long, event_type string"
    )


def _stepped_funnel(rows, stages):
    """The funnel recurrence stepped in plain Python, as the oracles'
    CTE chain states it: stage 0 holds every user with a stage-0 event
    (its earliest non-null time, or None); stage i holds each non-null
    user whose stage-i time is at or after its stage-(i-1) reach, with
    the earliest such time. Returns one {user: reach} dict per stage."""
    front = {}
    for u, ts, t in rows:
        if t == stages[0]:
            prev = front.get(u)
            front[u] = ts if prev is None else (prev if ts is None else min(prev, ts))
    fronts = [front]
    for s in stages[1:]:
        nxt = {}
        for u, ts, t in rows:
            if t != s or u is None or ts is None or front.get(u) is None:
                continue
            if ts >= front[u]:
                nxt[u] = min(nxt.get(u, ts), ts)
        front = nxt
        fronts.append(front)
    return fronts


def test_funnel_fused_counts_match_stepped(spark):
    """funnel_conversion's single-action fused count must equal the
    stepped recurrence exactly."""
    from mimic_iv_data_pipeline_spark.operators.windows import funnel_conversion

    ev = _funnel_fixture(spark)
    stages = ["signup", "view", "click", "purchase"]
    out = {r["stage"]: r for r in funnel_conversion(ev, stages).collect()}
    stepped = [len(f) for f in _stepped_funnel(_FUNNEL_ROWS, stages)]
    assert [out[s]["users"] for s in stages] == stepped
    # the fixture's hand-checked truth
    assert stepped == [4, 4, 2, 1]
    assert out["signup"]["pct_of_prev"] == 1.0
    assert out["purchase"]["pct_of_first"] == 0.25


_STAGES = ["a", "b", "c", "d"]


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 3)),
            st.one_of(st.none(), st.integers(0, 4)),
            st.sampled_from(["a", "b", "c", "x", None]),
        ),
        max_size=24,
    ),
    stages=st.permutations(_STAGES),
)
# null user, null ts, a stage-0 user whose only time is null, equal
# timestamps across stages, duplicate events; "d" never occurs
@example(
    rows=[
        (None, 1, "a"), (None, 2, "b"), (1, None, "a"), (1, 3, "b"),
        (2, 1, "a"), (2, 1, "b"), (2, 1, "b"), (2, 1, "c"), (3, None, "a"),
        (3, 0, "a"), (3, 0, "c"), (3, 2, "b"),
    ],
    stages=_STAGES,
)
def test_funnel_matches_stepped_recurrence(spark, rows, stages):
    """funnel_conversion's counts and funnel_times' rows equal the
    stepped recurrence on random small logs."""
    from mimic_iv_data_pipeline_spark.operators.windows import (
        funnel_conversion,
        funnel_times,
    )

    ev = spark.createDataFrame(rows, "user_id long, ts long, event_type string")
    fronts = _stepped_funnel(rows, stages)
    counts = funnel_conversion(ev, stages).collect()
    assert [(r["stage_idx"], r["stage"], r["users"]) for r in counts] == [
        (i + 1, s, len(f)) for i, (s, f) in enumerate(zip(stages, fronts))
    ]
    got = sorted(
        (r["user_id"] is None, r["user_id"] or 0, r["stage_idx"], r["stage"], r["reach_ts"])
        for r in funnel_times(ev, stages).collect()
    )
    want = sorted(
        (u is None, u or 0, i + 1, s, ts)
        for i, (s, f) in enumerate(zip(stages, fronts))
        for u, ts in f.items()
    )
    assert got == want


def test_funnel_builds_start_no_job(spark, sf_smoke, jobs_started):
    """Building the funnel relations is lazy: no pin, count collect or
    driver-built rows run at call time."""
    from mimic_iv_data_pipeline_spark.operators.windows import (
        funnel_conversion,
        funnel_times,
    )
    from mimic_iv_data_pipeline_spark.queries import all_queries
    from mimic_iv_data_pipeline_spark.sources.readers import load_table

    ev = _funnel_fixture(spark)
    stages = ["signup", "view", "click", "purchase"]
    assert jobs_started(lambda: funnel_conversion(ev, stages)) == []
    assert jobs_started(lambda: funnel_times(ev, stages)) == []
    load_table(spark, sf_smoke, "events")  # the schema inference job, once
    q164 = all_queries()["q164_funnel_lag"]
    assert jobs_started(lambda: q164(spark, sf_smoke)) == []


def test_funnel_conversion_plan_is_one_user_shuffle(spark, sf_smoke):
    """The chained windows share ONE hash partitioning on the user key,
    the per-user aggregate reuses it, and no pinned relation is read."""
    from mimic_iv_data_pipeline_spark.operators.windows import funnel_conversion
    from mimic_iv_data_pipeline_spark.sources.readers import load_table

    ev = load_table(spark, sf_smoke, "events")
    out = funnel_conversion(ev, ["signup", "view", "click", "purchase"])
    qe = out._jdf.queryExecution()
    lines = qe.executedPlan().toString().splitlines()
    hashed = [i for i, l in enumerate(lines) if "Exchange hashpartitioning" in l]
    windows = [i for i, l in enumerate(lines) if "Window [" in l]
    assert len(hashed) == 1, lines
    assert "hashpartitioning(__u#" in lines[hashed[0]]
    assert windows and hashed[0] > max(windows)  # below every Window
    plans = qe.optimizedPlan().toString() + "\n".join(lines)
    assert "ExistingRDD" not in plans and "LogicalRDD" not in plans


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
