"""Temporal / time-series queries (SURVEY.md §2.9 T1-T7).

The events table stands in for the reference's chartevents stream:
(user_id, ts, itemid-ish event_type, valuenum-ish value).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.functions.rounding import dround

from mimic_iv_data_pipeline_spark.operators.temporal import (
    bucketize_events,
    densify_time_grid,
    hours_between,
    normalize_event_time,
)
from mimic_iv_data_pipeline_spark.operators.pivot import pivot_features
from mimic_iv_data_pipeline_spark.queries import register
from mimic_iv_data_pipeline_spark.sources.readers import load_table

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


# --- q29: tumbling-window bucket aggregation (T3 — smooth_meds) ------------
# The reference loops bucket-by-bucket (data_generation_icu.py:286-345);
# here: one derivation + one hash aggregate.
@register(
    "q29_bucketize_hourly",
    oracle="""
    SELECT event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
           count(*) AS n,
           round(avg(value), 4) AS avg_value,
           round(max(value), 6) AS max_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q29_bucketize_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.withColumn(
            "bucket", F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dround(F.avg("value"), 4).alias("avg_value"),
            dround(F.max("value"), 6).alias("max_value"),
        )
    )


# --- q30: integer-bucket aggregation keyed by hours-since-epoch (T3) -------
# Same operator via the numeric path (floor(t/bucket)), 6-hour buckets.
@register(
    "q30_bucketize_6h",
    oracle="""
    SELECT user_id,
           CAST(floor(floor(date_diff('second', TIMESTAMP '2024-01-01 00:00:00', ts) / 3600.0) / 6.0) AS BIGINT) AS bucket,
           count(*) AS n,
           round(avg(value), 4) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q30_bucketize_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    hours = e.withColumn(
        "t",
        hours_between(F.col("ts"), F.lit("2024-01-01 00:00:00").cast("timestamp")),
    )
    return bucketize_events(
        hours,
        time_col="t",
        bucket_hours=6,
        group_by=["user_id"],
        agg_exprs=[
            F.count(F.lit(1)).alias("n"),
            dround(F.avg("value"), 4).alias("avg_value"),
        ],
    ).select("user_id", "bucket", "n", "avg_value")


# --- q31: dense time grid + left join + zero fill (T4, P5) -----------------
# The reference reindexes each per-visit pivot to range(los)
# (data_generation_icu.py:396-399); here explode(sequence) per user.
@register(
    "q31_dense_grid",
    oracle="""
    WITH grid AS (
      SELECT u.user_id, g.t
      FROM (SELECT DISTINCT user_id FROM events) u
      CROSS JOIN (SELECT unnest(range(0, 720)) AS t) g
    ), counts AS (
      SELECT user_id,
             CAST(floor(date_diff('second', TIMESTAMP '2024-01-01 00:00:00', ts) / 3600.0) AS BIGINT) AS t,
             count(*) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT grid.user_id, CAST(grid.t AS BIGINT) AS t, coalesce(counts.cnt, 0) AS cnt
    FROM grid LEFT JOIN counts ON grid.user_id = counts.user_id AND grid.t = counts.t
    """,
)
def q31_dense_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    anchors = e.select("user_id").distinct().withColumn("grid_len", F.lit(720))
    grid = densify_time_grid(anchors, "user_id", "grid_len", time_col="t")
    counts = (
        e.withColumn(
            "t", hours_between(F.col("ts"), F.lit("2024-01-01 00:00:00").cast("timestamp"))
        )
        .groupBy("user_id", "t")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return grid.join(counts, on=["user_id", "t"], how="left").select(
        "user_id", "t", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )


# --- q32: wide pivot with fixed domain (T7) --------------------------------
# pivot_table(index=user, columns=event_type, values=value, aggfunc=mean)
# with an explicit pivot domain (no distinct-scan job, stable schema).
@register(
    "q32_pivot_wide",
    oracle="""
    SELECT user_id,
           round(avg(value) FILTER (WHERE event_type = 'click'), 4)    AS click,
           round(avg(value) FILTER (WHERE event_type = 'error'), 4)    AS error,
           round(avg(value) FILTER (WHERE event_type = 'purchase'), 4) AS purchase,
           round(avg(value) FILTER (WHERE event_type = 'signup'), 4)   AS signup,
           round(avg(value) FILTER (WHERE event_type = 'view'), 4)     AS "view"
    FROM events
    GROUP BY user_id
    """,
)
def q32_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    out = pivot_features(
        e,
        index_cols=["user_id"],
        pivot_col="event_type",
        agg_expr=dround(F.avg("value"), 4),
        values=EVENT_TYPES,
    )
    return out


# --- q33: event-time normalization vs per-key anchor (T1) ------------------
# t = hours since the user's first event (the admit-time anchor in
# data_generation_icu.py:83-93), with the sanity filter t >= 0.
@register(
    "q33_event_time_normalize",
    oracle="""
    WITH anchored AS (
      SELECT user_id, value,
             CAST(floor(date_diff('second', min(ts) OVER (PARTITION BY user_id), ts) / 3600.0) AS BIGINT) AS t
      FROM events
    )
    SELECT user_id, t, count(*) AS n, round(sum(value), 4) AS sum_value
    FROM anchored
    WHERE t >= 0 AND t <= 168
    GROUP BY user_id, t
    """,
)
def q33_event_time_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    anchored = e.withColumn(
        "first_ts", F.min("ts").over(Window.partitionBy("user_id"))
    )
    normed = normalize_event_time(
        anchored, event_ts="ts", anchor_ts="first_ts", out_col="t"
    ).filter(F.col("t") <= 168)
    return normed.groupBy("user_id", "t").agg(
        F.count(F.lit(1)).alias("n"),
        dround(F.sum("value"), 4).alias("sum_value"),
    )


# --- q172: merge overlapping intervals (gaps-and-islands) -------------------
# Each event opens an interval [ts, ts + value minutes); overlapping or
# touching intervals per user merge into islands. Pure integer
# microsecond arithmetic on both sides — exact hash compare.
@register(
    "q172_merge_intervals",
    oracle="""
    WITH iv AS (
      SELECT user_id,
             epoch_us(ts) AS s,
             epoch_us(ts) + CAST(floor(value * 60) AS BIGINT) * 1000000 AS e
      FROM events
    ), marked AS (
      SELECT user_id, s, e,
             CASE WHEN max(e) OVER (
                    PARTITION BY user_id ORDER BY s ASC, e ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) IS NULL
                  OR s > max(e) OVER (
                    PARTITION BY user_id ORDER BY s ASC, e ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  )
             THEN 1 ELSE 0 END AS brk
      FROM iv
    ), isl AS (
      SELECT user_id, s, e,
             sum(brk) OVER (
               PARTITION BY user_id ORDER BY s ASC, e ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS island
      FROM marked
    )
    SELECT user_id, CAST(island AS BIGINT) AS island,
           min(s) AS island_start, max(e) AS island_end,
           CAST(count(*) AS BIGINT) AS n_merged
    FROM isl GROUP BY user_id, island
    """,
)
def q172_merge_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user union of overlapping event intervals
    (operators/temporal.py:merge_intervals — two window passes + one
    aggregate, no interval self-join)."""
    from mimic_iv_data_pipeline_spark.operators.temporal import merge_intervals

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("s"),
        (
            F.unix_micros(F.col("ts"))
            + F.floor(F.col("value") * 60).cast("long") * 1000000
        ).alias("e"),
    )
    out = merge_intervals(ev, "user_id", "s", "e")
    return out.select(
        "user_id",
        F.col("island").cast("long").alias("island"),
        F.col("island_start").alias("island_start"),
        F.col("island_end").alias("island_end"),
        "n_merged",
    )


# --- q173: per-key EWMA trace (smoothing recurrence) ------------------------
# alpha = 0.25 (exactly representable in binary, so 1-alpha agrees
# across engines); the Spark Arrow-batched loop and the DuckDB recursive CTE execute
# the identical IEEE op sequence, making the 6dp hash compare exact.
@register(
    "q173_ewma",
    oracle="""
    WITH RECURSIVE ordered AS (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ), rec AS (
      SELECT user_id, event_id, rn, CAST(value AS DOUBLE) AS e
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.user_id, o.event_id, o.rn, 0.25 * o.value + (1 - 0.25) * r.e
      FROM ordered o JOIN rec r ON o.user_id = r.user_id AND o.rn = r.rn + 1
    )
    SELECT user_id, event_id, round(floor(e * 1e6 + 0.5) / 1e6, 6) AS ewma_val
    FROM rec
    """,
)
def q173_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values at every event
    (operators/windows.py:ewma — hash-bucketed applyInPandas, linear per key)."""
    from mimic_iv_data_pipeline_spark.operators.windows import ewma

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    out = ewma(ev, "user_id", "ts", "value", alpha=0.25, tie_break="event_id")
    return out.select("user_id", "event_id", dround("ewma", 6).alias("ewma_val"))


# --- q174: CUSUM drift detection (prefix-sum identity) ----------------------
# Values scaled to integer micro-units so every prefix sum, running
# min, and threshold compare is exact integer math on both engines.
# target = 55.0 (the parameterized in-control mean), alarm h = 500.0.
@register(
    "q174_cusum",
    oracle="""
    WITH v AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * 1e6 + 0.5) AS BIGINT) - 55000000 AS dev
      FROM events
    ), p AS (
      SELECT user_id, ts, event_id,
             sum(dev) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pf
      FROM v
    ), s AS (
      SELECT user_id,
             pf - least(0, min(pf) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS su
      FROM p
    )
    SELECT user_id, CAST(max(su) AS BIGINT) AS max_cusum_micro,
           CAST(count(*) FILTER (su > 500000000) AS BIGINT) AS n_alarms
    FROM s GROUP BY user_id
    """,
)
def q174_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user upward CUSUM vs a target mean of 55.0, alarm at 500
    (operators/windows.py:cusum — two window passes, no recurrence)."""
    from mimic_iv_data_pipeline_spark.operators.windows import cusum

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        (F.floor(F.col("value") * 1e6 + 0.5).cast("long") - F.lit(55000000)).alias(
            "dev_micro"
        ),
    )
    out = cusum(ev, "user_id", "ts", "dev_micro", target=0, tie_break="event_id")
    return out.groupBy("user_id").agg(
        F.max("cusum_plus").cast("long").alias("max_cusum_micro"),
        F.count_if(F.col("cusum_plus") > 500000000).cast("long").alias("n_alarms"),
    )
