"""Entry point 3: time-series representation (SURVEY.md §3.3).

The reference's ``data_generation_icu.Generator`` ends in a python loop
*per stay_id* doing pandas pivots (``create_Dict``,
``data_generation_icu.py:441-729``) — its biggest scalability cliff.
Here the whole pipeline is set-level, keyed by (stay_id, itemid,
bucket): normalize → truncate → bucket-aggregate → densify → impute,
staying in LONG format end to end; the wide/tensor forms are final
presentation steps (pivot_features / assemble_map_tensor).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.operators.temporal import (
    truncate_observation_window,
)


def generate_timeseries(
    events: DataFrame,
    cohort: DataFrame,
    id_col: str = "stay_id",
    code_col: str = "itemid",
    time_col: str = "event_time_from_admit",
    value_col: str = "valuenum",
    los_hours_col: str = "los_hours",
    include_hours: int = 72,
    bucket_hours: int = 1,
    anchor: str = "first",
    impute: str | None = None,
    expand_parallelism: int | None = None,
) -> DataFrame:
    """T2+T3+T4+T6 composed: dense per-(id, code) hourly signal.

    1. truncate to the observation window — first ``include_hours``
       (mortality/LOS) or last (readmission), per
       ``data_generation_icu.py:172-283``;
    2. tumbling-bucket aggregate {mean value, count} per (id, code,
       bucket) — the ``smooth_meds`` loop (``:286-345``) as ONE hash agg;
    3. densify to the full 0..n_buckets-1 grid per (id, code) observed
       for that id — the per-visit ``reindex(range(los))`` (``:396-399``);
    4. imputation cascade ffill → bfill → mean/median → 0 (``:404-412``).

    The cohort is broadcast and everything else shuffles on (id,
    code) — no driver loop, no pivot until presentation.
    """
    # cohort's LOS under a private name: events from preproc_events
    # already carry los_hours, and an unrenamed join made the
    # anchor='last' (readmission) path fail with AMBIGUOUS_REFERENCE.
    # Broadcast explicitly: a pinned cohort keeps its pre-pin size
    # estimate (engine.materialize), so the planner never broadcasts it
    # and sort-merge-joined two pins, shuffling both on id. Streaming
    # the events keeps their partition order, so each bucket's double
    # sum is added in the order the sort-merge join gave it whenever
    # each id's events sit in one partition — as in run_pipeline's
    # events pin, whose preproc join streams the cohort.
    visits = F.broadcast(
        cohort.select(F.col(id_col), F.col(los_hours_col).alias("__ts_los"))
    )
    evs = events.join(visits, on=id_col, how="inner")
    evs = truncate_observation_window(
        evs, time_col, "__ts_los", include_hours, anchor=anchor
    ).drop("__ts_los")
    n_buckets = -(-include_hours // bucket_hours)  # ceil
    # Clip to the grid BEFORE building the code universe: truncation
    # keeps t <= include_hours, so an event in the final floored hour
    # buckets to n_buckets — off the 0..n_buckets-1 grid. Unfiltered it
    # would (a) vanish in the left join and (b) still seed the (id,
    # code) universe, FABRICATING an all-zero series for a code never
    # observed in-window (the reference's reindex(range(los)) likewise
    # drops out-of-range rows without adding columns for them).
    # The tumbling bucket is the T3 floor(t / bucket_hours) of
    # operators.temporal.bucketize_events.
    evs = evs.withColumn(
        "bucket", F.floor(F.col(time_col) / F.lit(bucket_hours)).cast("long")
    ).filter(F.col("bucket") < n_buckets)
    # Densify + impute per (id, code-observed-for-id): ONE aggregate
    # keyed by (id, code) packs each series, then narrow expressions
    # build the dense 0..n_buckets-1 grid, run the ffill→bfill→default
    # cascade and explode back to long rows — the |ids·codes·buckets|
    # dense relation never shuffles. Values are bit-identical to the
    # reference's join/window cascade: ffill / bfill only MOVE existing
    # doubles (no arithmetic), and coalesce(ffill, bfill, default) ≡ the
    # sequential cascade because post-ffill nulls exist only before the
    # first observation, where bfill-of-original equals
    # bfill-of-ffilled (parity pinned by tests/test_timeseries.py + the
    # pipeline mode-parity suite).
    if impute is not None and str(impute).lower() not in ("mean", "median"):
        # keep impute_cascade's validation contract on the array path
        raise ValueError(f"unknown impute strategy: {impute}")
    # Wide codegen path, for the grids this pipeline actually runs
    # (n_buckets = include_hours / bucket_hours ≤ 96): the per-bucket
    # mean and count are 2·n_buckets conditional aggregates —
    # avg(CASE WHEN bucket = b ...), count(CASE WHEN bucket = b ...) —
    # computed straight from the events, so the plan has ONE
    # hash-aggregate exchange (plus the expansion repartition below)
    # and no separate (id, code, bucket) aggregate. It is a plain
    # whole-stage-codegen HashAggregate over primitive buffers; each
    # bucket's double sum sees the same rows, in the same per-map-
    # partition partials and merge order, as a per-bucket avg would.
    # The ffill→bfill→default cascade collapses to per-bucket coalesce
    # chains — coalesce(v_b, v_{b-1}..v_0, v_{b+1}.., 0) is exactly
    # "last observation before b, else first after b, else default" —
    # with zero higher-order functions (tests/test_timeseries.py pins
    # wide == map). Beyond the width bound the map/HOF form below keeps
    # unbounded grids working (coalesce chains grow O(n²) in codegen
    # size). The wide expressions are parsed SQL strings, not Column
    # algebra: the Column form issued O(n_buckets²) py4j round-trips,
    # ~1.5 s of driver time per call at 24 buckets, while one F.expr
    # parse is milliseconds.
    if n_buckets <= 96:
        vcols = [
            F.expr(f"avg(CASE WHEN bucket = {b} THEN `{value_col}` END)").alias(f"__v{b}")
            for b in range(n_buckets)
        ]
        ncols = [
            F.expr(f"count(CASE WHEN bucket = {b} THEN 1 END)").alias(f"__n{b}")
            for b in range(n_buckets)
        ]
        packed = evs.groupBy(id_col, code_col).agg(*vcols, *ncols)
        # Optional explicit width for the expansion tail: the packed
        # relation is tiny in BYTES but the stage that consumes it does
        # ~n_buckets× the work per byte (coalesce-chain fill, inline
        # explode, the caller's pin). AQE coalesces the packed exchange
        # by its byte size, blind to that expansion, and once collapsed
        # the tail to 1 task. run_pipeline passes the core count, so
        # every core gets one expansion task and every consumer of its
        # pinned result runs one task per core, not one per shuffle
        # partition. The explicit repartition is exempt from AQE
        # coalescing and runs AFTER the aggregate (a raw-row repartition
        # before it would reorder the double sums), so values are
        # unchanged (pinned by tests/test_r12_s3.py).
        if expand_parallelism:
            packed = packed.repartition(
                int(expand_parallelism), F.col(id_col), F.col(code_col)
            )

        def _filled_sql(b: int) -> str:
            if impute is None:
                return f"`__v{b}`"
            order = (
                [f"`__v{i}`" for i in range(b, -1, -1)]
                + [f"`__v{i}`" for i in range(b + 1, n_buckets)]
                + ["0.0D"]
            )
            return "coalesce(" + ", ".join(order) + ")"

        struct_sql = ", ".join(
            f"named_struct('bucket', {b}, 'value', {_filled_sql(b)}, "
            f"'n_events', `__n{b}`)"
            for b in range(n_buckets)
        )
        return packed.select(
            id_col, code_col, F.expr(f"inline(array({struct_sql}))")
        )
    binned = evs.groupBy(id_col, code_col, "bucket").agg(
        F.avg(value_col).alias("value"), F.count(F.lit(1)).alias("n_events")
    )
    entries = binned.groupBy(id_col, code_col).agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(F.col("bucket"), F.struct(F.col("value"), F.col("n_events")))
            )
        ).alias("__m")
    )
    seq = F.sequence(F.lit(0), F.lit(n_buckets - 1))
    raw_vals = F.transform(seq, lambda b: F.col("__m")[b]["value"])
    n_events = F.transform(
        seq, lambda b: F.coalesce(F.col("__m")[b]["n_events"], F.lit(0))
    )

    def _arr_ffill(a: Column) -> Column:
        # running last-non-null: ANSI-safe (element_at guarded by size)
        return F.aggregate(
            a,
            F.array().cast("array<double>"),
            lambda acc, x: F.concat(
                acc,
                F.array(
                    F.coalesce(
                        x, F.when(F.size(acc) > 0, F.element_at(acc, F.size(acc)))
                    )
                ),
            ),
        )

    series = entries.withColumn("__v", raw_vals).withColumn("__ne", n_events).drop("__m")
    if impute is not None:
        filled = F.zip_with(
            _arr_ffill(F.col("__v")),
            F.reverse(_arr_ffill(F.reverse(F.col("__v")))),
            lambda a, b: F.coalesce(a, b, F.lit(0.0)),
        )
        series = series.withColumn("__v", filled)
    return series.select(
        id_col,
        code_col,
        F.inline(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_buckets - 1)),
                lambda b: F.struct(
                    b.alias("bucket"),
                    F.col("__v")[b].alias("value"),
                    F.col("__ne")[b].alias("n_events"),
                ),
            )
        ),
    )


def medication_signal(
    meds: DataFrame,
    id_col: str = "stay_id",
    code_col: str = "itemid",
    start_col: str = "start_hours",
    stop_col: str = "stop_hours",
    include_hours: int = 72,
    bucket_hours: int = 1,
) -> DataFrame:
    """T5: interval → per-bucket on/off signal for med administrations
    (``data_generation_icu.py:478-501``): signal=1 for every bucket the
    interval [start, stop) covers, clamped to the observation window
    (P8 ``stop>los → los`` clamp at ``:164``).

    Set form: explode each interval into its covered buckets via
    ``sequence`` (bounded by include_hours — no unbounded blowup), then
    max per (id, code, bucket) collapses overlapping orders.
    """
    clamped = (
        meds.withColumn(start_col, F.greatest(F.col(start_col), F.lit(0)))
        .withColumn(stop_col, F.least(F.col(stop_col), F.lit(include_hours)))
        .filter(F.col(start_col) < F.col(stop_col))
    )
    # bucket b covers [b·bh, (b+1)·bh); [start, stop) intersects it for
    # b in [floor(start/bh), ceil(stop/bh)-1]; stop > start ≥ 0 guarantees
    # hi ≥ lo. The ceil form is exact for fractional stops too (the prior
    # floor((stop-1)/bh) assumed integer hours: start=0.2, stop=0.5 made
    # the sequence descend and emit a spurious bucket -1).
    lo = F.floor(F.col(start_col) / bucket_hours).cast("long")
    hi = F.ceil(F.col(stop_col) / bucket_hours).cast("long") - 1
    buckets = clamped.select(
        id_col,
        code_col,
        F.explode(F.sequence(lo, hi)).alias("bucket"),
    )
    return buckets.groupBy(id_col, code_col, "bucket").agg(
        F.lit(1).alias("signal")
    )
