"""Temporal operators (SURVEY.md §2.9 — the heart of the reference).

The reference's time-series generator (``model/data_generation_icu.py``)
loops python-side over buckets (``:286-345``) and over stay_ids
(``:441-729``). Every operator here is a set-level DataFrame transform
keyed by (id, itemid, bucket) — the shapes that parallelize to 1000
executors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hours_between(end: Column, start: Column) -> Column:
    """F8/F10: elapsed whole hours, floored toward zero.

    The reference converts timedeltas via *string split* on
    ``'3 days 04:05:06'`` (``day_intervals_cohort.py:48-52``,
    ``data_generation_icu.py:64-66``) which floors the hour component.
    ``floor(seconds/3600)`` reproduces that exactly without the string
    round-trip (SURVEY §7.3 hard part d).
    """
    return F.floor((F.unix_timestamp(end) - F.unix_timestamp(start)) / 3600).cast("long")


def normalize_event_time(
    df: DataFrame,
    event_ts: str,
    anchor_ts: str,
    out_col: str = "event_hour",
    max_hours_col: str | None = None,
) -> DataFrame:
    """T1: event-time normalization — hours since admission, with the
    reference's "sanity" filters (drop events before admit or after
    discharge, ``data_generation_icu.py:83-93``)."""
    out = df.withColumn(out_col, hours_between(F.col(event_ts), F.col(anchor_ts)))
    out = out.filter(F.col(out_col) >= 0)
    if max_hours_col:
        out = out.filter(F.col(out_col) <= F.col(max_hours_col))
    return out


def truncate_observation_window(
    df: DataFrame,
    time_col: str,
    los_col: str,
    include_hours: int,
    anchor: str = "first",
    start_col: str | None = None,
) -> DataFrame:
    """T2: observation-window truncation.

    ``anchor='first'`` keeps the first ``include_hours`` (mortality/LOS
    tasks, ``data_generation_icu.py:172-241``); ``anchor='last'`` shifts
    events by ``select_time = los - include_hours`` and clamps negative
    starts to 0 (readmission task, ``:243-283``). Interval rows pass
    ``start_col`` so both endpoints shift together.
    """
    if anchor == "first":
        return df.filter(F.col(time_col) <= F.lit(include_hours))
    if anchor != "last":
        raise ValueError(f"unknown anchor: {anchor}")
    shift = F.col(los_col) - F.lit(include_hours)
    out = df.withColumn(time_col, F.col(time_col) - shift)
    if start_col:
        out = out.withColumn(start_col, F.greatest(F.col(start_col) - shift, F.lit(0)))
    return out.filter(F.col(time_col) >= 0)


def bucketize_events(
    df: DataFrame,
    time_col: str,
    bucket_hours: int,
    group_by: list[str],
    agg_exprs: list[Column],
    bucket_col: str = "bucket",
) -> DataFrame:
    """T3: tumbling-window bucket aggregation (``smooth_meds``).

    The reference loops bucket-by-bucket python-side
    (``data_generation_icu.py:286-345``): for each bucket b it filters
    ``b*size <= t < (b+1)*size`` and aggregates. One ``floor(t/size)``
    derivation + ONE hash aggregate has identical semantics with a
    single shuffle.
    """
    binned = df.withColumn(
        bucket_col, F.floor(F.col(time_col) / F.lit(bucket_hours)).cast("long")
    )
    return binned.groupBy(*group_by, bucket_col).agg(*agg_exprs)


def densify_time_grid(
    anchors: DataFrame,
    id_col: str,
    length_col: str,
    time_col: str = "t",
) -> DataFrame:
    """T4: dense per-id time grid 0..length-1.

    The reference reindexes each pivoted per-visit frame to
    ``range(los)`` inside the per-stay loop
    (``data_generation_icu.py:396-399,480-483``). Distributed form:
    ``explode(sequence(0, length-1))`` — one narrow generate, no shuffle;
    rows stay co-partitioned with their id for the subsequent left join.

    Zero/negative lengths emit NO rows (``range(0)`` semantics): an
    unguarded ``sequence(0, -1)`` DESCENDS in Spark (default step -1),
    which would fabricate phantom grid rows t=0 and t=-1 for a
    sub-hour stay — the same start>stop trap guarded in fuzzy.py /
    text.py / sampling.py.
    """
    length = F.col(length_col).cast("long")
    return anchors.select(
        F.col(id_col),
        F.explode(
            F.when(length >= 1, F.sequence(F.lit(0), length - 1)).otherwise(
                F.array().cast("array<long>")
            )
        ).alias(time_col),
    )


def interval_signal(
    grid: DataFrame,
    intervals: DataFrame,
    id_col: str,
    time_col: str = "t",
    start_col: str = "start_time",
    stop_col: str = "stop_time",
    signal_col: str = "signal",
) -> DataFrame:
    """T5: interval → per-hour activity signal.

    Reference builds it by pivoting stop_time, forward-filling, then
    comparing (``data_generation_icu.py:478-501``). Signal = 1 iff any
    interval covers the grid hour (``start <= t < stop``).

    Scale shape: each interval is EXPLODED into the integer grid times it
    covers — clamped to the id's own grid extent, so the generate is
    bounded by the grid size — then equi-joined on ``(id, t)``. The
    earlier form joined grid × intervals on id alone, a per-id cross
    product (los_hours × n_intervals rows before re-aggregation) that
    blows up on long stays at scale; this form's row count is at most
    Σ covered-buckets and every shuffle is keyed on (id, t) or id.
    Assumes integer grid times (what ``densify_time_grid`` emits);
    fractional interval endpoints are handled exactly
    (``t >= start ⟺ t >= ceil(start)``, ``t < stop ⟺ t <= ceil(stop)-1``
    for integer t).
    """
    bounds = grid.groupBy(id_col).agg(
        F.min(time_col).alias("__tmin"), F.max(time_col).alias("__tmax")
    )
    lo = F.greatest(F.ceil(F.col(start_col)).cast("long"), F.col("__tmin").cast("long"))
    hi = F.least(
        F.ceil(F.col(stop_col)).cast("long") - 1, F.col("__tmax").cast("long")
    )
    covered = (
        intervals.join(bounds, on=id_col)
        .select(id_col, lo.alias("__lo"), hi.alias("__hi"))
        .filter(F.col("__lo") <= F.col("__hi"))
        .select(
            id_col,
            F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias(time_col),
        )
        .groupBy(id_col, time_col)  # collapse overlapping intervals
        .agg(F.lit(1).alias("__on"))
    )
    return grid.join(covered, on=[id_col, time_col], how="left").select(
        id_col,
        time_col,
        F.coalesce(F.col("__on"), F.lit(0)).alias(signal_col),
    )


def merge_intervals(
    df: DataFrame,
    partition_by: str | list[str],
    start_col: str,
    end_col: str,
    island_col: str = "island",
) -> DataFrame:
    """Union overlapping-or-touching intervals per key (gaps-and-
    islands; the standalone generalization of the span-merge inside
    ``dedup.duplicate_spans``). A new island starts where the interval's
    start exceeds the running max end of all predecessors; intervals
    sharing a start can never break (end >= start), so tie order is
    irrelevant and the result is deterministic without a tie-break.

    Returns one row per merged island:
    ``(partition cols, island, island_start, island_end, n_merged)``.

    Scale shape: one shuffle on the partition key, two sequential
    window passes (running max-end, prefix-sum of breaks) and one
    aggregate on (key, island) — no self-join, no explode; the
    quadratic interval-overlap join this replaces is the 100TB trap.
    """
    parts = [partition_by] if isinstance(partition_by, str) else partition_by
    from pyspark.sql.window import Window

    w = Window.partitionBy(*parts).orderBy(
        F.col(start_col).asc(), F.col(end_col).asc()
    )
    prev_max_end = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    is_break = (
        prev_max_end.isNull() | (F.col(start_col) > prev_max_end)
    ).cast("long")
    with_island = df.withColumn(
        island_col,
        F.sum(is_break).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return with_island.groupBy(*parts, island_col).agg(
        F.min(start_col).alias("island_start"),
        F.max(end_col).alias("island_end"),
        F.count(F.lit(1)).cast("long").alias("n_merged"),
    )


def seasonal_decompose(
    df: DataFrame,
    key_cols: str | list[str],
    day_col: str,
    value_col: str,
    period: int = 7,
    trend_window: int = 7,
) -> DataFrame:
    """Additive seasonal decomposition of a per-key DAILY series
    (public: the classical decomposition statsmodels
    ``seasonal_decompose(model='additive')`` implements — Kendall &
    Stuart):  y = trend + seasonal + residual, with

      trend_t    = centered ``trend_window``-day moving average
                   (NULL unless the window is complete AND the frame
                   spans exactly trend_window−1 calendar days — a
                   gappy series must not silently average
                   non-adjacent days; densify upstream, as with
                   :func:`acf`),
      seasonal_j = mean of the detrended values at period position
                   j = (days since 1970-01-01) mod ``period``
                   (weekday for period=7; NOT re-centered — the means
                   already sum to ~0 for balanced panels, documented
                   rather than hidden),
      residual   = detrended − seasonal.

    Input must be ONE ROW PER (key, day) with ``value_col`` integer-
    quantized (aggregate upstream — same contract as :func:`acf`).
    Determinism: the trend mean is an exact decimal window sum divided
    once; detrended values are micro-quantized (floor(x·1e6+0.5))
    before the per-position mean, so every emitted double is a pinned
    IEEE sequence. The period position is pure integer date arithmetic
    (datediff from the epoch, mod period) — identical in any engine,
    unlike dow/dayofweek whose origin differs per engine.

    Scale shape: one per-key ordered window (ROWS frame ±w/2) + one
    (key, position) aggregate broadcast back — the facts are scanned
    twice, shuffled once on the key. Returns the input plus
    ``(trend, position, seasonal, detrended, residual)``; trend/
    seasonal/residual NULL where the trend window is incomplete.
    """
    from pyspark.sql.window import Window

    if trend_window % 2 == 0 or trend_window < 1:
        raise ValueError(
            "seasonal_decompose: trend_window must be odd and >= 1 "
            "(classical centered moving average)"
        )
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    half = trend_window // 2
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(day_col).asc())
        .rowsBetween(-half, half)
    )
    y = F.col(value_col)
    with_trend = df.withColumn(
        "__wn", F.count(F.lit(1)).over(w)
    ).withColumn(
        # CONTIGUITY guard alongside the count: a gappy daily series
        # (missing weekends) still has trend_window ROWS in the frame
        # while spanning more calendar days — averaging non-adjacent
        # days is silently NOT the classical centered MA. The frame is
        # complete iff it spans exactly trend_window-1 days.
        "__wspan",
        F.datediff(F.max(day_col).over(w), F.min(day_col).over(w)),
    ).withColumn(
        "trend",
        F.when(
            (F.col("__wn") == trend_window)
            & (F.col("__wspan") == trend_window - 1),
            F.sum(y.cast("decimal(38,0)")).over(w).cast("double")
            / F.lit(float(trend_window)),
        ),
    ).withColumn(
        "position",
        F.pmod(F.datediff(F.col(day_col), F.lit("1970-01-01").cast("date")), F.lit(period)).cast("long"),
    ).withColumn(
        "__dt_micro",
        F.floor((y.cast("double") - F.col("trend")) * F.lit(1e6) + F.lit(0.5)).cast(
            "long"
        ),
    )
    seasonal = (
        with_trend.filter(F.col("trend").isNotNull())
        .groupBy(*keys, "position")
        .agg(
            (
                F.sum("__dt_micro").cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(1e6)
            ).alias("seasonal")
        )
    )
    out = with_trend.join(F.broadcast(seasonal), [*keys, "position"], "left")
    detrended = F.when(
        F.col("trend").isNotNull(), y.cast("double") - F.col("trend")
    )
    return out.select(
        *keys,
        day_col,
        value_col,
        "trend",
        "position",
        F.when(F.col("trend").isNotNull(), F.col("seasonal")).alias("seasonal"),
        detrended.alias("detrended"),
        (detrended - F.col("seasonal")).alias("residual"),
    )
