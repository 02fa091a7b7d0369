"""Window / ordered-analytics / statistical queries (SURVEY.md §2.4-2.6).

These exercise the operator library (operators/windows.py,
operators/aggregates.py, operators/joins.py) against the driver's star
schema, each with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.functions.rounding import dround
from pyspark.sql.window import Window

from mimic_iv_data_pipeline_spark.operators.aggregates import (
    clamp_outliers,
    confusion_by_group,
    mode_per_group,
    quantile_bins,
    rank_auc,
)
from mimic_iv_data_pipeline_spark.operators.joins import asof_join
from mimic_iv_data_pipeline_spark.operators.windows import (
    bfill,
    ffill,
    label_readmission,
    sessionize,
    topk_per_group,
)
from mimic_iv_data_pipeline_spark.queries import register
from mimic_iv_data_pipeline_spark.sources.readers import load_table


# --- q15: mode per group (A7 — drop_wrong_uom's majority-unit) -------------
@register(
    "q15_mode_per_group",
    oracle="""
    SELECT l_partkey, l_returnflag AS mode_flag, round(share, 6) AS share
    FROM (
      SELECT l_partkey, l_returnflag, cnt,
             row_number() OVER (PARTITION BY l_partkey ORDER BY cnt DESC, l_returnflag ASC) AS rn,
             cnt * 1.0 / sum(cnt) OVER (PARTITION BY l_partkey) AS share
      FROM (SELECT l_partkey, l_returnflag, count(*) AS cnt FROM lineitem GROUP BY 1, 2)
    ) WHERE rn = 1
    """,
)
def q15_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    out = mode_per_group(li, "l_partkey", "l_returnflag")
    return out.select(
        "l_partkey",
        F.col("l_returnflag").alias("mode_flag"),
        dround("share", 6).alias("share"),
    )


# --- q16: per-group percentile outlier clamp (A8, exact percentiles) -------
@register(
    "q16_outlier_clamp",
    oracle="""
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_id,
           round(CASE WHEN e.value < b.lo THEN b.lo
                      WHEN e.value > b.hi THEN b.hi
                      ELSE e.value END, 6) AS value_clamped
    FROM events e JOIN b USING (event_type)
    """,
)
def q16_outlier_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = clamp_outliers(e, "event_type", "value", 0.05, 0.95, mode="clamp")
    return out.select("event_id", dround("value", 6).alias("value_clamped"))


# --- q17: top-k per group (W6) ---------------------------------------------
@register(
    "q17_topk_per_group",
    oracle="""
    SELECT p_brand, p_partkey, rev
    FROM (
      SELECT p.p_brand, p.p_partkey, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS rev,
             row_number() OVER (
               PARTITION BY p.p_brand
               ORDER BY round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) DESC, p.p_partkey ASC
             ) AS rn
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand, p.p_partkey
    ) WHERE rn <= 3
    """,
)
def q17_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice", "l_discount")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    per_part = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(
            dround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("rev")
        )
    )
    return topk_per_group(
        per_part, "p_brand", [F.col("rev").desc(), F.col("p_partkey").asc()], k=3
    ).select("p_brand", "p_partkey", "rev")


# --- q18: readmission lookahead label (J8/W2) ------------------------------
# The reference's partition_by_readmit loop (day_intervals_cohort.py:136-177)
# on orders-as-visits: label 1 iff a later order lands within 90 days.
@register(
    "q18_readmission_label",
    oracle="""
    SELECT v.o_orderkey, v.o_custkey,
           CASE WHEN EXISTS (
             SELECT 1 FROM orders w
             WHERE w.o_custkey = v.o_custkey
               AND w.o_orderdate > v.o_orderdate
               AND date_diff('second', v.o_orderdate, w.o_orderdate) <= 90 * 86400
           ) THEN 1 ELSE 0 END AS label
    FROM orders v
    """,
)
def q18_readmission_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    out = label_readmission(
        o,
        subject_col="o_custkey",
        admit_col="o_orderdate",
        disch_col="o_orderdate",
        gap_days=90,
    )
    return out.select("o_orderkey", "o_custkey", F.col("label").cast("int").alias("label"))


# --- q19: as-of join (J7 — hadm_imputer semantics) -------------------------
# For each purchase, the latest signup of the same user at-or-before it
# and within 7 days; deterministic tie-break; unmatched stay null.
@register(
    "q19_asof_join",
    oracle="""
    SELECT p.event_id, s.event_id AS signup_event_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id AND s.ts <= p.ts
         AND date_diff('second', s.ts, p.ts) <= 604800
    QUALIFY row_number() OVER (
      PARTITION BY p.event_id ORDER BY s.ts DESC, s.event_id DESC
    ) = 1
    """,
)
def q19_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "ts")
    purchases = e.filter(F.col("event_type") == "purchase").drop("event_type")
    signups = e.filter(F.col("event_type") == "signup").drop("event_type")
    # union strategy: linear single-shuffle backward as-of (the join
    # strategy is quadratic per key — see PERF.md scale-up table)
    out = asof_join(
        purchases,
        signups,
        on="user_id",
        left_time="ts",
        right_start="ts",
        direction="backward",
        strategy="union",
        union_tie_cols=["event_id_r"],
        tolerance_seconds=604800,
    )
    return out.select("event_id", F.col("event_id_r").alias("signup_event_id"))


# --- q20: forward/backward fill (W3) ---------------------------------------
# ffill/bfill over the per-user event sequence; 'error' values masked to
# null first so the fill has real gaps to cross (the reference fills
# pivoted hour grids the same way, data_generation_icu.py:404-412).
@register(
    "q20_ffill_bfill",
    oracle="""
    SELECT event_id,
           round(last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS v_ffill,
           round(first_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 6) AS v_bfill
    FROM (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      FROM events
    )
    """,
)
def q20_ffill_bfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "error", None).otherwise(F.col("value")).alias("v"),
    )
    out = ffill(e, "v", "user_id", ["ts", "event_id"], out_col="v_ffill")
    out = bfill(out, "v", "user_id", ["ts", "event_id"], out_col="v_bfill")
    return out.select(
        "event_id",
        dround("v_ffill", 6).alias("v_ffill"),
        dround("v_bfill", 6).alias("v_bfill"),
    )


# --- q21: sessionization (gap-based; scale extension) ----------------------
@register(
    "q21_sessionize",
    oracle="""
    SELECT user_id, CAST(sum(brk) AS BIGINT) AS n_sessions
    FROM (
      SELECT user_id,
             CASE WHEN prev_ts IS NULL
                       OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END AS brk
      FROM (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
      )
    ) GROUP BY user_id
    """,
)
def q21_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    out = sessionize(e, "user_id", "ts", gap_seconds=1800, tie_break="event_id")
    return out.groupBy("user_id").agg(F.max("session_id").cast("long").alias("n_sessions"))


# --- q22: quantile binning (A9 — BEHRT qcut) -------------------------------
@register(
    "q22_quantile_bins",
    oracle="""
    SELECT event_type, CAST(bin AS BIGINT) AS bin, count(*) AS n,
           round(min(value), 6) AS bin_min, round(max(value), 6) AS bin_max
    FROM (
      SELECT event_type, value,
             ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS bin
      FROM events
    ) GROUP BY event_type, bin
    """,
)
def q22_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("event_type", "value", "event_id")
    binned = quantile_bins(e, "event_type", "value", "event_id", n_bins=4)
    return binned.groupBy("event_type", F.col("bin").cast("long").alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        dround(F.min("value"), 6).alias("bin_min"),
        dround(F.max("value"), 6).alias("bin_max"),
    )


# --- q23: histogram bins / calibration (A10) -------------------------------
@register(
    "q23_calibration_bins",
    oracle="""
    SELECT CAST(floor(value / 50.0) AS BIGINT) AS bin,
           count(*) AS n,
           round(avg(value), 4) AS avg_value,
           round(avg(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END), 6) AS purchase_rate
    FROM events
    GROUP BY 1
    """,
)
def q23_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mimic_iv_data_pipeline_spark.operators.aggregates import histogram_bins

    e = load_table(spark, sf_dir, "events")
    return histogram_bins(
        e,
        "value",
        50.0,
        [
            F.count(F.lit(1)).alias("n"),
            dround(F.avg("value"), 4).alias("avg_value"),
            dround(
                F.avg(F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0)), 6
            ).alias("purchase_rate"),
        ],
    )


# --- q24: fairness confusion matrix by group (A11) -------------------------
@register(
    "q24_fairness_confusion",
    oracle="""
    SELECT c_mktsegment, tp, tn, fp, fn,
           round(tp * 1.0 / nullif(tp + fn, 0), 6) AS tpr,
           round(tn * 1.0 / nullif(tn + fp, 0), 6) AS tnr,
           round(fp * 1.0 / nullif(fp + tn, 0), 6) AS fpr,
           round(fn * 1.0 / nullif(fn + tp, 0), 6) AS fnr,
           round((tp + fp) * 1.0 / nullif(tp + tn + fp + fn, 0), 6) AS pr,
           round((tn + fn) * 1.0 / nullif(tp + tn + fp + fn, 0), 6) AS nr,
           round((tp + tn) * 1.0 / nullif(tp + tn + fp + fn, 0), 6) AS accuracy
    FROM (
      SELECT c.c_mktsegment,
             CAST(sum(CASE WHEN y = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN y = 0 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
             CAST(sum(CASE WHEN y = 0 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN y = 1 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM (
        SELECT o_custkey,
               CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS y,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS p
        FROM orders
      ) o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment
    )
    """,
)
def q24_fairness_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice", "o_orderpriority")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    return confusion_by_group(
        joined,
        "c_mktsegment",
        label_expr=(F.col("o_totalprice") > 150000),
        pred_expr=F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
    )


# --- q25: rank-based ROC-AUC (A12) -----------------------------------------
@register(
    "q25_rank_auc",
    oracle="""
    WITH t AS (
      SELECT CAST(embedding[1] AS DOUBLE) AS score,
             CASE WHEN label = 2 THEN 1 ELSE 0 END AS y
      FROM embeddings
    ), r AS (
      SELECT y,
             rank() OVER (ORDER BY score) AS minr,
             count(*) OVER (PARTITION BY score) AS ties
      FROM t
    )
    SELECT round(
      (sum(CASE WHEN y = 1 THEN minr + (ties - 1) / 2.0 ELSE 0 END)
       - sum(y) * (sum(y) + 1) / 2.0)
      / (sum(y) * sum(1 - y)), 6) AS auc
    FROM r
    """,
)
def q25_rank_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    scored = emb.select(
        F.element_at("embedding", 1).cast("double").alias("score"),
        F.when(F.col("label") == 2, 1).otherwise(0).alias("y"),
    )
    return rank_auc(scored, "score", "y")


# --- q26: vocabulary build (A15) -------------------------------------------
@register(
    "q26_vocab_build",
    oracle="""
    SELECT event_type AS token,
           CAST(row_number() OVER (ORDER BY event_type) - 1 AS BIGINT) AS id
    FROM (SELECT DISTINCT event_type FROM events)
    """,
)
def q26_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.orderBy("event_type")
    return (
        e.select("event_type")
        .distinct()
        .withColumn("id", (F.row_number().over(w) - 1).cast("long"))
        .select(F.col("event_type").alias("token"), "id")
    )


# --- q27: global top-k (§2.6) ----------------------------------------------
@register(
    "q27_global_topk",
    oracle="""
    SELECT l_partkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev
    FROM lineitem
    GROUP BY l_partkey
    ORDER BY rev DESC, l_partkey ASC
    LIMIT 5
    """,
)
def q27_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(
            dround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("rev")
        )
        .orderBy(F.col("rev").desc(), F.col("l_partkey").asc())
        .limit(5)
    )


# --- q28: rollup / grouping sets (A14 — free extension) --------------------
@register(
    "q28_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_quantity), 4) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q28_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        dround(F.sum("l_quantity"), 4).alias("sum_qty"),
    )


# --- q148: retention cohort matrix ------------------------------------------
# The product-analytics classic: users grouped by the month of their
# FIRST event (cohort), activity counted per months-since-cohort — a
# first-touch window aggregate + month arithmetic + distinct count, all
# JVM-side. A 100 TB shape note: the first-touch relation is |users|
# rows; the activity join shuffles on user_id and colocates with an
# event log bucketed on the same key.
@register(
    "q148_retention_cohorts",
    oracle="""
    WITH first AS (
      SELECT user_id, min(ts) AS f FROM events GROUP BY user_id
    )
    SELECT strftime(f, '%Y-%m') AS cohort_month,
           CAST((year(ts) * 12 + month(ts))
                - (year(f) * 12 + month(f)) AS BIGINT) AS months_since,
           count(DISTINCT e.user_id) AS n_active
    FROM events e JOIN first USING (user_id)
    GROUP BY 1, 2
    """,
)
def q148_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-month × months-since retention matrix over the event log
    (first event per user defines the cohort; n_active = distinct users
    of that cohort active k months later)."""

    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first = e.groupBy("user_id").agg(F.min("ts").alias("f"))
    months = (F.year("ts") * 12 + F.month("ts")) - (
        F.year("f") * 12 + F.month("f")
    )
    return (
        e.join(first, "user_id")
        .select(
            F.date_format("f", "yyyy-MM").alias("cohort_month"),
            months.cast("long").alias("months_since"),
            "user_id",
        )
        .groupBy("cohort_month", "months_since")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


# --- q149: GROUPING SETS (A14's third variant) ------------------------------
# rollup (q28) and cube (q54) cover the hierarchical and exhaustive
# lattices; GROUPING SETS is the explicit-list variant (two independent
# one-dimension summaries + a grand total in ONE pass — Catalyst plans
# a single Expand + aggregate, not three scans). Exercised through the
# engine's SQL surface (registered views) with grouping_id
# disambiguating the NULLs that mark aggregated-out dimensions.
@register(
    "q149_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           count(*) AS n,
           floor(sum(o_totalprice) * 100 + 0.5) / 100 AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q149_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status and per-priority order summaries plus the grand total
    in one Expand pass, via the SQL surface (GROUP BY GROUPING SETS)."""

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("__q149_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
               count(*) AS n,
               CAST(floor(sum(o_totalprice) * 100 + 0.5) / 100 AS DOUBLE)
                 AS sum_price
        FROM __q149_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# --- q153: ordered funnel conversion ----------------------------------------
# signup -> view -> click -> purchase over the event log; each stage
# counts only users whose stage-i event is at-or-after their earliest
# qualifying stage-(i-1) time (the sequential funnel recurrence —
# unordered per-stage mins would miscount users with pre-signup
# clicks). Companion to q148's retention matrix.
@register(
    "q153_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS r FROM events
      WHERE event_type = 'signup' GROUP BY 1
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS r FROM events e
      JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.r
      WHERE e.event_type = 'view' GROUP BY 1
    ), s3 AS (
      SELECT e.user_id, min(e.ts) AS r FROM events e
      JOIN s2 ON e.user_id = s2.user_id AND e.ts >= s2.r
      WHERE e.event_type = 'click' GROUP BY 1
    ), s4 AS (
      SELECT e.user_id, min(e.ts) AS r FROM events e
      JOIN s3 ON e.user_id = s3.user_id AND e.ts >= s3.r
      WHERE e.event_type = 'purchase' GROUP BY 1
    ), c AS (
      SELECT 1 AS stage_idx, 'signup' AS stage,
             (SELECT count(*) FROM s1) AS users
      UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2)
      UNION ALL SELECT 3, 'click', (SELECT count(*) FROM s3)
      UNION ALL SELECT 4, 'purchase', (SELECT count(*) FROM s4)
    )
    SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
           CAST(users AS BIGINT) AS users,
           floor(CASE WHEN first_value(users) OVER (ORDER BY stage_idx) = 0
                      THEN 0.0
                      ELSE users * 1.0
                           / first_value(users) OVER (ORDER BY stage_idx)
                 END * 1e6 + 0.5) / 1e6 AS pct_of_first,
           floor(coalesce(
                   users * 1.0
                   / nullif(lag(users) OVER (ORDER BY stage_idx), 0),
                   CASE WHEN stage_idx = 1 THEN 1.0 ELSE 0.0 END)
                 * 1e6 + 0.5) / 1e6 AS pct_of_prev
    FROM c
    """,
)
def q153_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 4-stage funnel over events
    (operators/windows.py:funnel_conversion — chained per-user windows
    over one hash shuffle of the funnel events, then one count
    aggregate; no pin, collect or driver-built rows)."""
    from mimic_iv_data_pipeline_spark.operators.windows import funnel_conversion

    ev = load_table(spark, sf_dir, "events")
    return funnel_conversion(ev, ["signup", "view", "click", "purchase"])


# --- q156: MAD-based robust outlier summary ----------------------------------
# The Hampel identifier next to q16's mean±kσ clamp: medians and MADs
# are exact percentiles (both engines interpolate), the outlier cut
# compares against the UNROUNDED threshold on both sides, and only the
# output columns are rounded — so the digest covers the robust
# statistics and the flag counts.
@register(
    "q156_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT l_returnflag AS grp, median(l_extendedprice) AS m, count(*) AS n
      FROM lineitem GROUP BY 1
    ), dev AS (
      SELECT l.l_returnflag AS grp,
             abs(l.l_extendedprice - med.m) AS dv, med.m, med.n
      FROM lineitem l JOIN med ON l.l_returnflag = med.grp
    ), mad AS (SELECT grp, median(dv) AS mad FROM dev GROUP BY 1)
    SELECT d.grp AS l_returnflag,
           CAST(max(d.n) AS BIGINT) AS n,
           floor(max(d.m) * 1e6 + 0.5) / 1e6 AS median,
           floor(max(mad.mad) * 1e6 + 0.5) / 1e6 AS mad,
           CAST(sum(CASE WHEN d.dv > 3.5 * 1.4826 * mad.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad ON mad.grp = d.grp
    GROUP BY 1
    """,
)
def q156_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag robust outlier summary
    (operators/aggregates.py:mad_outliers — three keyed aggregates,
    broadcast group stats, no window over the facts)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import mad_outliers

    li = load_table(spark, sf_dir, "lineitem")
    out = mad_outliers(li, "l_returnflag", "l_extendedprice")
    return out.select(
        "l_returnflag",
        "n",
        dround(F.col("median"), 6).alias("median"),
        dround(F.col("mad"), 6).alias("mad"),
        "n_outliers",
    )


# --- q157: mutual information between categorical columns --------------------
# Feature-dependence screen (sklearn mutual_info_score semantics,
# natural log): MI(returnflag; linestatus) plus both marginal
# entropies, all derived from ONE joint aggregate — fact table scanned
# once, every downstream relation is |X|·|Y| rows.
@register(
    "q157_mutual_information",
    oracle="""
    WITH jc AS (
      SELECT l_returnflag AS x, l_linestatus AS y, count(*) * 1.0 AS c
      FROM lineitem GROUP BY 1, 2
    ), mx AS (SELECT x, sum(c) AS cx FROM jc GROUP BY 1),
    my AS (SELECT y, sum(c) AS cy FROM jc GROUP BY 1),
    t AS (SELECT sum(c) AS n FROM jc)
    SELECT CAST((SELECT n FROM t) AS BIGINT) AS n,
           floor((SELECT sum((c / t.n) * ln((c * t.n) / (cx * cy)))
                  FROM jc JOIN mx USING (x) JOIN my USING (y) CROSS JOIN t)
                 * 1e6 + 0.5) / 1e6 AS mi,
           floor((SELECT -sum((cx / t.n) * ln(cx / t.n))
                  FROM mx CROSS JOIN t) * 1e6 + 0.5) / 1e6 AS h_x,
           floor((SELECT -sum((cy / t.n) * ln(cy / t.n))
                  FROM my CROSS JOIN t) * 1e6 + 0.5) / 1e6 AS h_y
    """,
)
def q157_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MI + marginal entropies of returnflag × linestatus
    (operators/aggregates.py:mutual_information — one fact scan)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import mutual_information

    li = load_table(spark, sf_dir, "lineitem")
    out = mutual_information(li, "l_returnflag", "l_linestatus")
    return out.select(
        "n",
        dround(F.col("mi"), 6).alias("mi"),
        dround(F.col("h_x"), 6).alias("h_x"),
        dround(F.col("h_y"), 6).alias("h_y"),
    )


# --- q158: CUPED A/B experiment readout --------------------------------------
# Welch z on per-user purchase revenue (variant = user parity) plus the
# CUPED-adjusted readout using view count as the pre-period covariate
# (Deng et al. WSDM 2013). The oracle mirrors the operator's exact
# moment formulas term-for-term so the digest covers θ, both lifts,
# both z-scores, and the variance-reduction percentage.
@register(
    "q158_cuped_ab",
    oracle="""
    WITH pu AS (
      SELECT user_id,
             coalesce(sum(CASE WHEN event_type = 'purchase' THEN value END), 0.0) AS y,
             CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS DOUBLE) AS x,
             user_id % 2 AS g
      FROM events GROUP BY 1
    ), m AS (
      SELECT g, count(*) * 1.0 AS n, sum(y) AS sy, sum(y*y) AS syy,
             sum(x) AS sx, sum(x*x) AS sxx, sum(x*y) AS sxy
      FROM pu GROUP BY 1
    ), j AS (
      SELECT c.n AS n_c, c.sy AS sy_c, c.syy AS syy_c, c.sx AS sx_c,
             c.sxx AS sxx_c, c.sxy AS sxy_c,
             t.n AS n_t, t.sy AS sy_t, t.syy AS syy_t, t.sx AS sx_t,
             t.sxx AS sxx_t, t.sxy AS sxy_t
      FROM (SELECT * FROM m WHERE g = 0) c, (SELECT * FROM m WHERE g = 1) t
    ), s AS (
      SELECT *,
             sy_c / n_c AS my_c, sx_c / n_c AS mx_c,
             sy_t / n_t AS my_t, sx_t / n_t AS mx_t,
             (syy_c - n_c * (sy_c / n_c) * (sy_c / n_c)) / (n_c - 1) AS vy_c,
             (sxx_c - n_c * (sx_c / n_c) * (sx_c / n_c)) / (n_c - 1) AS vx_c,
             (sxy_c - n_c * (sx_c / n_c) * (sy_c / n_c)) / (n_c - 1) AS cxy_c,
             (syy_t - n_t * (sy_t / n_t) * (sy_t / n_t)) / (n_t - 1) AS vy_t,
             (sxx_t - n_t * (sx_t / n_t) * (sx_t / n_t)) / (n_t - 1) AS vx_t,
             (sxy_t - n_t * (sx_t / n_t) * (sy_t / n_t)) / (n_t - 1) AS cxy_t,
             (sx_c + sx_t) / (n_c + n_t) AS mx_p,
             (sy_c + sy_t) / (n_c + n_t) AS my_p
      FROM j
    ), s2 AS (
      SELECT *,
             ((sxy_c + sxy_t) - (n_c + n_t) * mx_p * my_p)
               / ((n_c + n_t) - 1)
             / (((sxx_c + sxx_t) - (n_c + n_t) * mx_p * mx_p)
               / ((n_c + n_t) - 1)) AS theta
      FROM s
    ), s3 AS (
      SELECT *,
             (my_t - theta * (mx_t - mx_p)) - (my_c - theta * (mx_c - mx_p))
               AS lift_cuped,
             vy_c - 2 * theta * cxy_c + theta * theta * vx_c AS vadj_c,
             vy_t - 2 * theta * cxy_t + theta * theta * vx_t AS vadj_t
      FROM s2
    )
    SELECT CAST(n_c AS BIGINT) AS n_c, CAST(n_t AS BIGINT) AS n_t,
           floor(my_c * 1e6 + 0.5) / 1e6 AS mean_c,
           floor(my_t * 1e6 + 0.5) / 1e6 AS mean_t,
           floor((my_t - my_c) * 1e6 + 0.5) / 1e6 AS lift,
           floor((my_t - my_c) / sqrt(vy_c / n_c + vy_t / n_t) * 1e6 + 0.5) / 1e6 AS z,
           floor(theta * 1e6 + 0.5) / 1e6 AS theta,
           floor(lift_cuped * 1e6 + 0.5) / 1e6 AS lift_cuped,
           floor(lift_cuped / sqrt(vadj_c / n_c + vadj_t / n_t) * 1e6 + 0.5) / 1e6
             AS z_cuped,
           floor((1.0 - (vadj_c + vadj_t) / (vy_c + vy_t)) * 100.0 * 1e6 + 0.5) / 1e6
             AS var_reduction_pct
    FROM s3
    """,
)
def q158_cuped_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED A/B readout over per-user event metrics
    (operators/aggregates.py:cuped_ab_test — one facts scan collecting
    six moments per variant, arithmetic on a 2-row relation)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import cuped_ab_test

    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))),
            F.lit(0.0),
        ).alias("y"),
        F.count(F.when(F.col("event_type") == "view", F.lit(1)))
        .cast("double")
        .alias("x"),
    ).withColumn("g", F.pmod(F.col("user_id"), F.lit(2)))
    out = cuped_ab_test(pu, "g", "y", "x")
    return out.select(
        "n_c", "n_t",
        dround(F.col("mean_c"), 6).alias("mean_c"),
        dround(F.col("mean_t"), 6).alias("mean_t"),
        dround(F.col("lift"), 6).alias("lift"),
        dround(F.col("z"), 6).alias("z"),
        dround(F.col("theta"), 6).alias("theta"),
        dround(F.col("lift_cuped"), 6).alias("lift_cuped"),
        dround(F.col("z_cuped"), 6).alias("z_cuped"),
        dround(F.col("var_reduction_pct"), 6).alias("var_reduction_pct"),
    )


# --- q162: Kaplan-Meier survival curves --------------------------------------
# Product-limit estimator over order→first-ship duration, grouped by
# order priority; non-F orders are right-censored. The running-log
# cumulative product, the at-risk windows, and the S(t)=0 guard are
# all mirrored in SQL, so the digest covers the whole step curve.
@register(
    "q162_kaplan_meier",
    oracle="""
    WITH ship AS (
      SELECT l_orderkey, min(l_shipdate) AS s FROM lineitem GROUP BY 1
    ), base AS (
      SELECT o_orderpriority AS grp,
             date_diff('day', o_orderdate, s) AS t,
             CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS e
      FROM orders JOIN ship ON l_orderkey = o_orderkey
    ), a AS (
      SELECT grp, t, sum(e) AS d, count(*) * 1.0 AS c FROM base GROUP BY 1, 2
    ), r AS (
      SELECT grp, t, d, c,
             sum(c) OVER (PARTITION BY grp)
               - coalesce(sum(c) OVER (PARTITION BY grp ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM a
    ), s AS (
      SELECT grp, t, d, n_risk,
             exp(sum(CASE WHEN 1 - d / n_risk > 0
                          THEN ln(1 - d / n_risk)
                          ELSE CAST('-infinity' AS DOUBLE) END)
                 OVER (PARTITION BY grp ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
               AS surv
      FROM r
    )
    SELECT grp AS o_orderpriority, CAST(t AS BIGINT) AS t,
           CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS n_event,
           floor(surv * 1e6 + 0.5) / 1e6 AS survival
    FROM s WHERE d > 0
    """,
)
def q162_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KM survival of order→first-ship time by priority, F-status as
    the event (operators/aggregates.py:kaplan_meier — one keyed
    aggregate + two windows over the distinct-times relation)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import kaplan_meier

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ship = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("s"))
    base = orders.join(ship, orders["o_orderkey"] == ship["l_orderkey"]).select(
        "o_orderpriority",
        F.datediff(F.col("s"), F.col("o_orderdate")).alias("dur"),
        (F.col("o_orderstatus") == "F").cast("int").alias("event"),
    )
    km = kaplan_meier(base, "dur", "event", "o_orderpriority")
    return km.select(
        "o_orderpriority",
        F.col("t").cast("long").alias("t"),
        "n_risk",
        "n_event",
        dround(F.col("survival"), 6).alias("survival"),
    )


# --- q163: log-rank test -----------------------------------------------------
# Mantel-Cox test that the 1-URGENT and 3-MEDIUM survival curves from
# q162 differ: per pooled event time, observed vs expected events and
# the hypergeometric variance, summed — the whole contingency walk is
# mirrored in SQL and the 1-row (obs, exp, chi2) readout is
# hash-verified.
@register(
    "q163_logrank",
    oracle="""
    WITH ship AS (
      SELECT l_orderkey, min(l_shipdate) AS s FROM lineitem GROUP BY 1
    ), base AS (
      SELECT o_orderpriority AS grp,
             date_diff('day', o_orderdate, s) AS t,
             CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS e
      FROM orders JOIN ship ON l_orderkey = o_orderkey
      WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')
    ), a AS (
      SELECT grp, t, sum(e) AS d, count(*) * 1.0 AS c FROM base GROUP BY 1, 2
    ), grid AS (
      SELECT g.grp, ts.t
      FROM (SELECT DISTINCT grp FROM a) g, (SELECT DISTINCT t FROM a) ts
    ), cells AS (
      SELECT grid.grp, grid.t,
             coalesce(a.d, 0) AS d, coalesce(a.c, 0) AS c
      FROM grid LEFT JOIN a ON a.grp = grid.grp AND a.t = grid.t
    ), risk AS (
      SELECT grp, t, d, c,
             sum(c) OVER (PARTITION BY grp)
               - coalesce(sum(c) OVER (PARTITION BY grp ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n
      FROM cells
    ), j AS (
      SELECT x.d AS d1, x.n AS n1, y.d AS d2, y.n AS n2,
             x.d + y.d AS dt, x.n + y.n AS nt
      FROM (SELECT * FROM risk WHERE grp = '1-URGENT') x
      JOIN (SELECT * FROM risk WHERE grp = '3-MEDIUM') y ON x.t = y.t
      WHERE x.d + y.d > 0
    )
    SELECT '1-URGENT' AS group_a, '3-MEDIUM' AS group_b,
           CAST(sum(d1) AS BIGINT) AS obs_a,
           floor(sum(dt * n1 / nt) * 1e6 + 0.5) / 1e6 AS exp_a,
           CAST(sum(d2) AS BIGINT) AS obs_b,
           floor((sum(dt) - sum(dt * n1 / nt)) * 1e6 + 0.5) / 1e6 AS exp_b,
           floor(pow(sum(d1) - sum(dt * n1 / nt), 2)
                 / sum(CASE WHEN nt > 1
                            THEN dt * (n1 / nt) * (n2 / nt) * (nt - dt) / (nt - 1)
                            ELSE 0 END) * 1e6 + 0.5) / 1e6 AS chi2
    FROM j
    """,
)
def q163_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test between two priority groups' survival
    (operators/aggregates.py:logrank_test — distinct-times grid +
    per-group cumulative windows + one final sum)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import logrank_test

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ship = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("s"))
    base = (
        orders.filter(F.col("o_orderpriority").isin("1-URGENT", "3-MEDIUM"))
        .join(ship, orders["o_orderkey"] == ship["l_orderkey"])
        .select(
            "o_orderpriority",
            F.datediff(F.col("s"), F.col("o_orderdate")).alias("dur"),
            (F.col("o_orderstatus") == "F").cast("int").alias("event"),
        )
    )
    out = logrank_test(base, "dur", "event", "o_orderpriority")
    return out.select(
        "group_a",
        "group_b",
        F.col("obs_a").cast("long").alias("obs_a"),
        dround(F.col("exp_a"), 6).alias("exp_a"),
        F.col("obs_b").cast("long").alias("obs_b"),
        dround(F.col("exp_b"), 6).alias("exp_b"),
        dround(F.col("chi2"), 6).alias("chi2"),
    )


# --- q164: funnel time-to-convert --------------------------------------------
# Per-transition lag statistics between consecutive funnel stages
# (signup→view→click→purchase): count, mean and exact p50/p90 of the
# seconds between each user's earliest-qualifying stage times. Built on
# the same reach recurrence as q153 — the oracle rebuilds it as chained
# CTEs and the lag percentiles with quantile_cont.
@register(
    "q164_funnel_lag",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS r FROM events
      WHERE event_type = 'signup' GROUP BY 1
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS r FROM events e
      JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.r
      WHERE e.event_type = 'view' GROUP BY 1
    ), s3 AS (
      SELECT e.user_id, min(e.ts) AS r FROM events e
      JOIN s2 ON e.user_id = s2.user_id AND e.ts >= s2.r
      WHERE e.event_type = 'click' GROUP BY 1
    ), s4 AS (
      SELECT e.user_id, min(e.ts) AS r FROM events e
      JOIN s3 ON e.user_id = s3.user_id AND e.ts >= s3.r
      WHERE e.event_type = 'purchase' GROUP BY 1
    ), lags AS (
      SELECT 1 AS transition_idx, 'signup->view' AS transition,
             (epoch_us(s2.r) - epoch_us(s1.r)) / 1e6 AS lag_s
      FROM s1 JOIN s2 ON s1.user_id = s2.user_id
      UNION ALL
      SELECT 2, 'view->click', (epoch_us(s3.r) - epoch_us(s2.r)) / 1e6
      FROM s2 JOIN s3 ON s2.user_id = s3.user_id
      UNION ALL
      SELECT 3, 'click->purchase', (epoch_us(s4.r) - epoch_us(s3.r)) / 1e6
      FROM s3 JOIN s4 ON s3.user_id = s4.user_id
    )
    SELECT CAST(transition_idx AS BIGINT) AS transition_idx, transition,
           CAST(count(*) AS BIGINT) AS n,
           floor(avg(lag_s) * 1e6 + 0.5) / 1e6 AS mean_s,
           floor(quantile_cont(lag_s, 0.5) * 1e6 + 0.5) / 1e6 AS p50_s,
           floor(quantile_cont(lag_s, 0.9) * 1e6 + 0.5) / 1e6 AS p90_s
    FROM lags GROUP BY 1, 2
    """,
)
def q164_funnel_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert stats per funnel transition
    (operators/windows.py:funnel_times — the shared reach relation;
    each stage's lag is ``lag(reach_ts)`` over the user's stages, a
    window on the relation's own user partitioning, so no self-join)."""
    from mimic_iv_data_pipeline_spark.operators.windows import funnel_times

    ev = load_table(spark, sf_dir, "events")
    ft = funnel_times(ev, ["signup", "view", "click", "purchase"])
    w = Window.partitionBy("user_id").orderBy("stage_idx")
    lags = ft.select(
        (F.col("stage_idx") - 1).alias("transition_idx"),
        F.concat_ws("->", F.lag("stage").over(w), "stage").alias("transition"),
        (
            (F.unix_micros("reach_ts") - F.unix_micros(F.lag("reach_ts").over(w)))
            / F.lit(1e6)
        ).alias("lag_s"),
    ).filter(F.col("transition_idx") > 0)
    return lags.groupBy("transition_idx", "transition").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dround(F.avg("lag_s"), 6).alias("mean_s"),
        dround(F.expr("percentile(lag_s, 0.5)"), 6).alias("p50_s"),
        dround(F.expr("percentile(lag_s, 0.9)"), 6).alias("p90_s"),
    )


# --- q165: chi-square test of independence -----------------------------------
# Pearson chi2 + Cramér's V for returnflag × linestatus — the
# frequentist sibling of q157's MI, over the full margin grid
# (unobserved cells contribute their expectation).
@register(
    "q165_chi_square",
    oracle="""
    WITH jc AS (
      SELECT l_returnflag AS x, l_linestatus AS y, count(*) * 1.0 AS c
      FROM lineitem GROUP BY 1, 2
    ), mx AS (SELECT x, sum(c) AS cx FROM jc GROUP BY 1),
    my AS (SELECT y, sum(c) AS cy FROM jc GROUP BY 1),
    t AS (SELECT sum(c) AS n FROM jc),
    grid AS (
      SELECT mx.cx, my.cy, coalesce(jc.c, 0) AS o
      FROM mx CROSS JOIN my
      LEFT JOIN jc ON jc.x = mx.x AND jc.y = my.y
    ), s AS (
      SELECT sum(pow(o - cx * cy / (SELECT n FROM t), 2)
                 / (cx * cy / (SELECT n FROM t))) AS chi2
      FROM grid
    )
    SELECT CAST((SELECT n FROM t) AS BIGINT) AS n,
           CAST(((SELECT count(*) FROM mx) - 1)
                * ((SELECT count(*) FROM my) - 1) AS BIGINT) AS dof,
           floor(chi2 * 1e6 + 0.5) / 1e6 AS chi2,
           floor(sqrt(chi2 / ((SELECT n FROM t)
                 * least((SELECT count(*) FROM mx) - 1,
                         (SELECT count(*) FROM my) - 1)))
                 * 1e6 + 0.5) / 1e6 AS cramers_v
    FROM s
    """,
)
def q165_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence of returnflag × linestatus
    (operators/aggregates.py:chi_square_independence — one joint
    aggregate, margins derived)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import (
        chi_square_independence,
    )

    li = load_table(spark, sf_dir, "lineitem")
    out = chi_square_independence(li, "l_returnflag", "l_linestatus")
    return out.select(
        "n",
        "dof",
        dround(F.col("chi2"), 6).alias("chi2"),
        dround(F.col("cramers_v"), 6).alias("cramers_v"),
    )


# --- q166: PSI distribution drift --------------------------------------------
# Population stability of o_totalprice between pre- and post-1998
# orders: deciles cut on the reference half, Laplace-smoothed shares,
# per-bucket terms plus the bucket = -1 total row — all hash-verified.
@register(
    "q166_psi_drift",
    oracle="""
    WITH ref AS (
      SELECT o_totalprice AS v FROM orders
      WHERE o_orderdate < TIMESTAMP '1998-01-01'
    ), cur AS (
      SELECT o_totalprice AS v FROM orders
      WHERE o_orderdate >= TIMESTAMP '1998-01-01'
    ), e AS (
      SELECT quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
               AS edges
      FROM ref
    ), rb AS (
      SELECT len(list_filter((SELECT edges FROM e), x -> v > x)) AS b,
             count(*) * 1.0 AS c
      FROM ref GROUP BY 1
    ), cb AS (
      SELECT len(list_filter((SELECT edges FROM e), x -> v > x)) AS b,
             count(*) * 1.0 AS c
      FROM cur GROUP BY 1
    ), allb AS (SELECT range AS b FROM range(10)),
    j AS (
      SELECT allb.b, coalesce(rb.c, 0) AS cr, coalesce(cb.c, 0) AS cc
      FROM allb LEFT JOIN rb ON rb.b = allb.b LEFT JOIN cb ON cb.b = allb.b
    ), t AS (SELECT sum(cr) AS nr, sum(cc) AS nc FROM j),
    terms AS (
      SELECT b,
             (cr + 1e-6) / ((SELECT nr FROM t) + 10 * 1e-6) AS p,
             (cc + 1e-6) / ((SELECT nc FROM t) + 10 * 1e-6) AS q
      FROM j
    )
    SELECT CAST(b AS BIGINT) AS bucket,
           floor(p * 1e6 + 0.5) / 1e6 AS ref_share,
           floor(q * 1e6 + 0.5) / 1e6 AS cur_share,
           floor((p - q) * ln(p / q) * 1e6 + 0.5) / 1e6 AS psi_term
    FROM terms
    UNION ALL
    SELECT -1, NULL, NULL,
           floor(sum((p - q) * ln(p / q)) * 1e6 + 0.5) / 1e6
    FROM terms
    """,
)
def q166_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI of order totals, pre- vs post-1998
    (operators/aggregates.py:population_stability — reference-decile
    buckets, one scan per side)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import (
        population_stability,
    )

    orders = load_table(spark, sf_dir, "orders")
    ref = orders.filter(F.col("o_orderdate") < "1998-01-01")
    cur = orders.filter(F.col("o_orderdate") >= "1998-01-01")
    out = population_stability(ref, cur=cur, value_col="o_totalprice", bins=10, alpha=1e-6)
    return out.select(
        "bucket",
        dround(F.col("ref_share"), 6).alias("ref_share"),
        dround(F.col("cur_share"), 6).alias("cur_share"),
        dround(F.col("psi_term"), 6).alias("psi_term"),
    )


# --- q167: two-sample KS statistic -------------------------------------------
# D = sup |F_a - F_b| between the same two halves' price
# distributions; CDFs are distributed prefix sums over the distinct-
# value grid (~15k values), the oracle a single ordered window.
@register(
    "q167_ks_statistic",
    oracle="""
    WITH a AS (
      SELECT o_totalprice AS v, count(*) AS ca FROM orders
      WHERE o_orderdate < TIMESTAMP '1998-01-01' GROUP BY 1
    ), b AS (
      SELECT o_totalprice AS v, count(*) AS cb FROM orders
      WHERE o_orderdate >= TIMESTAMP '1998-01-01' GROUP BY 1
    ), grid AS (
      SELECT coalesce(a.v, b.v) AS v,
             coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
      FROM a FULL JOIN b ON a.v = b.v
    ), c AS (
      SELECT sum(ca) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fa,
             sum(cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fb
      FROM grid
    ), t AS (SELECT sum(ca) * 1.0 AS na, sum(cb) * 1.0 AS nb FROM grid)
    SELECT CAST((SELECT na FROM t) AS BIGINT) AS n_a,
           CAST((SELECT nb FROM t) AS BIGINT) AS n_b,
           floor(max(abs(fa / (SELECT na FROM t) - fb / (SELECT nb FROM t)))
                 * 1e6 + 0.5) / 1e6 AS d_stat
    FROM c
    """,
)
def q167_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS statistic between pre- and post-1998 order totals
    (operators/aggregates.py:ks_statistic — per-side count collapse +
    distributed CDF prefix sums)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import ks_statistic

    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderdate") < "1998-01-01")
    b = orders.filter(F.col("o_orderdate") >= "1998-01-01")
    out = ks_statistic(a, b, "o_totalprice")
    return out.select("n_a", "n_b", dround(F.col("d_stat"), 6).alias("d_stat"))


# --- q169: event transition matrix -------------------------------------------
# Clickstream path analysis: MLE first-order Markov transition
# probabilities between consecutive events per user — the full
# |states|² matrix is hash-verified.
@register(
    "q169_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT event_type AS f,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS t
      FROM events
    ), c AS (
      SELECT f AS from_state, t AS to_state, count(*) AS n
      FROM seq WHERE t IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_state, to_state, CAST(n AS BIGINT) AS n,
           floor(n * 1.0 / sum(n) OVER (PARTITION BY from_state)
                 * 1e6 + 0.5) / 1e6 AS prob
    FROM c
    """,
)
def q169_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix of the event stream
    (operators/windows.py:transition_matrix — one lag window + one
    pair aggregate)."""
    from mimic_iv_data_pipeline_spark.operators.windows import transition_matrix

    ev = load_table(spark, sf_dir, "events")
    out = transition_matrix(ev, tie_break="event_id")
    return out.select(
        "from_state", "to_state", "n", dround(F.col("prob"), 6).alias("prob")
    )


# --- q171: event-time rolling aggregates (scale extension) ------------------
# 30-day trailing revenue per customer over the orders stream — the
# RANGE-frame rolling classic. Sums run over integer cents so the hash
# compare is exact regardless of either engine's in-frame add order.
@register(
    "q171_rolling_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(count(*) OVER w AS BIGINT) AS n_30d,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) OVER w
                AS BIGINT) AS revenue_cents_30d
    FROM orders
    WINDOW w AS (
      PARTITION BY o_custkey
      ORDER BY CAST(epoch_us(o_orderdate) // 1000000 AS BIGINT)
      RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW
    )
    """,
)
def q171_rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 30-day order count + revenue per customer
    (operators/windows.py:rolling_window — one shuffle, RANGE frame)."""
    from mimic_iv_data_pipeline_spark.operators.windows import rolling_window

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("__cents"),
    )
    out = rolling_window(
        orders,
        partition_by="o_custkey",
        ts_col="o_orderdate",
        exprs={
            "n_30d": F.count(F.lit(1)),
            "revenue_cents_30d": F.sum("__cents"),
        },
        window_seconds=2592000,
    )
    return out.select(
        "o_custkey",
        "o_orderkey",
        F.col("n_30d").cast("long").alias("n_30d"),
        F.col("revenue_cents_30d").cast("long").alias("revenue_cents_30d"),
    )


# --- q175: ROC / PR curve with AP + trapezoid AUC ---------------------------
# label = purchase event, score = value. All curve quantities are exact
# functions of integer counts (precision pre-quantized to micro-units,
# AP/AUC assembled from integer term sums) — see roc_pr_curve.
@register(
    "q175_roc_pr_curve",
    oracle="""
    WITH lab AS (
      SELECT value AS score,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ), by_score AS (
      SELECT score, CAST(sum(y) AS BIGINT) AS pos,
             CAST(sum(1 - y) AS BIGINT) AS neg
      FROM lab GROUP BY score
    ), cum AS (
      SELECT *,
             CAST(sum(pos) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tp,
             CAST(sum(neg) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_fp
      FROM by_score
    ), tot AS (
      SELECT CAST(sum(y) AS BIGINT) AS P, CAST(sum(1 - y) AS BIGINT) AS N FROM lab
    ), c2 AS (
      SELECT cum.*, tot.P, tot.N,
             CAST(floor(1e6 * cum_tp / (cum_tp + cum_fp) + 0.5) AS BIGINT)
               AS prec_micro
      FROM cum, tot
    ), summ AS (
      SELECT sum(pos * prec_micro) / (any_value(P) * 1e6) AS ap,
             sum(neg * (2 * cum_tp - pos)) / (2.0 * any_value(P) * any_value(N))
               AS roc_auc
      FROM c2
    )
    SELECT round(score, 6) AS score, pos, neg, cum_tp, cum_fp,
           round(floor((cum_tp / P) * 1e6 + 0.5) / 1e6, 6) AS tpr,
           round(floor((cum_fp / N) * 1e6 + 0.5) / 1e6, 6) AS fpr,
           round(prec_micro / 1e6, 6) AS precision_val,
           round(floor(ap * 1e6 + 0.5) / 1e6, 6) AS ap,
           round(floor(roc_auc * 1e6 + 0.5) / 1e6, 6) AS roc_auc
    FROM c2, summ
    """,
)
def q175_roc_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC + PR curve over purchase-vs-rest scored by event value
    (operators/aggregates.py:roc_pr_curve — integer-exact curve)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import roc_pr_curve

    ev = load_table(spark, sf_dir, "events").select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    # the operator materializes the per-score relation once for the
    # curve's 3 consumers
    out = roc_pr_curve(ev, "score", "y")
    return out.select(
        dround("score", 6).alias("score"),
        "pos",
        "neg",
        "cum_tp",
        "cum_fp",
        dround("tpr", 6).alias("tpr"),
        dround("fpr", 6).alias("fpr"),
        F.round(F.col("precision"), 6).alias("precision_val"),
        dround("ap", 6).alias("ap"),
        dround("roc_auc", 6).alias("roc_auc"),
    )


# --- q176: cumulative gains / lift deciles ----------------------------------
@register(
    "q176_lift_gains",
    oracle="""
    WITH lab AS (
      SELECT event_id, value AS score,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ), ranked AS (
      SELECT y, row_number() OVER (ORDER BY score DESC, event_id ASC) AS rnk,
             (SELECT count(*) FROM lab) AS n
      FROM lab
    ), b AS (
      SELECT CAST(1 + ((rnk - 1) * 10) // n AS BIGINT) AS bucket, y FROM ranked
    ), per AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(y) AS BIGINT) AS n_pos
      FROM b GROUP BY bucket
    )
    SELECT bucket, n_rows, n_pos,
           CAST(sum(n_rows) OVER w AS BIGINT) AS cum_rows,
           CAST(sum(n_pos) OVER w AS BIGINT) AS cum_pos,
           round(floor((sum(n_pos) OVER w * 1.0 / sum(n_pos) OVER ()) * 1e6 + 0.5)
                 / 1e6, 6) AS gain,
           round(floor(((sum(n_pos) OVER w * 1.0 / sum(n_pos) OVER ())
                 / (sum(n_rows) OVER w * 1.0 / sum(n_rows) OVER ())) * 1e6 + 0.5)
                 / 1e6, 6) AS lift
    FROM per
    WINDOW w AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q176_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gains/lift table for purchase targeting by event value
    (operators/aggregates.py:lift_gains — distributed rank, B-row
    cumulative relation)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import lift_gains

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    out = lift_gains(ev, "score", "y", tie_break="event_id", n_buckets=10)
    return out.select(
        "bucket",
        "n_rows",
        "n_pos",
        "cum_rows",
        "cum_pos",
        dround("gain", 6).alias("gain"),
        dround("lift", 6).alias("lift"),
    )


# --- q177-q180: regression / anomaly / ACF / bootstrap ----------------------
# Shared exactness contract: quantize value to cents (integer) on both
# sides, aggregate with decimal(38,0)-exact sums, run the SAME fixed
# IEEE formula on the exact sums — outputs are bit-identical, rounding
# is belt-and-braces. The SQL fragments below are generated from the
# same constants the operators use, so the twins can't drift.

_CENTS = "CAST(floor(value * 100 + 0.5) AS BIGINT)"


def _linreg_tail_sql(var_terms: str, group: str) -> str:
    """Exact-sum → closed-form slope/intercept/r2 SQL tail (shared by
    q177; mirrors grouped_linreg's formula order exactly)."""
    return f"""
    s AS (
      SELECT {group}, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(x AS DECIMAL(38,0))) AS sx,
             sum(CAST(y AS DECIMAL(38,0))) AS sy,
             sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
             sum(CAST(y * y AS DECIMAL(38,0))) AS syy,
             sum(CAST(x * y AS DECIMAL(38,0))) AS sxy
      FROM f GROUP BY {group}
    ), e AS (
      -- differences in exact integer arithmetic (HUGEINT), cast once:
      -- mirrors grouped_linreg's decimal-difference form (the double
      -- form cancels catastrophically at large |x|)
      SELECT {group}, n,
             CAST(n * CAST(sxx AS HUGEINT)
               - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE) AS vx,
             CAST(n * CAST(syy AS HUGEINT)
               - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE) AS vy,
             CAST(n * CAST(sxy AS HUGEINT)
               - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE) AS cov,
             CAST(n AS DOUBLE) AS nD, CAST(sx AS DOUBLE) AS sxD,
             CAST(sy AS DOUBLE) AS syD
      FROM s
    )
    SELECT {group}, n,
           round(floor((CASE WHEN vx <> 0 THEN cov / vx END) * 1e6 + 0.5) / 1e6, 6)
             AS {var_terms},
           round(floor((CASE WHEN vx <> 0
                        THEN (syD - (cov / vx) * sxD) / nD END) * 1e6 + 0.5) / 1e6, 6)
             AS intercept,
           round(floor((CASE WHEN vx <> 0 AND vy <> 0
                        THEN (cov * cov) / (vx * vy) END) * 1e6 + 0.5) / 1e6, 6)
             AS r2
    FROM e
    """


@register(
    "q177_grouped_linreg",
    oracle=f"""
    WITH f AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS x, {_CENTS} AS y
      FROM events
    ),{_linreg_tail_sql("slope", "event_type")}
    """,
)
def q177_grouped_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type least-squares fit of value-in-cents on
    hour-of-day (operators/aggregates.py:grouped_linreg — one exact-sum
    hash aggregate, closed-form coefficients)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import grouped_linreg

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("long").alias("x"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("y"),
    )
    out = grouped_linreg(ev, "event_type", "x", "y")
    return out.select(
        "event_type",
        "n",
        dround("slope", 6).alias("slope"),
        dround("intercept", 6).alias("intercept"),
        dround("r2", 6).alias("r2"),
    )


@register(
    "q178_seasonal_anomalies",
    oracle=f"""
    WITH f AS (
      SELECT event_id, event_type, CAST(hour(ts) AS BIGINT) AS hr, {_CENTS} AS y
      FROM events
    ), s AS (
      SELECT event_type, hr, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(y AS DECIMAL(38,0))) AS sy,
             sum(CAST(y * y AS DECIMAL(38,0))) AS syy
      FROM f GROUP BY 1, 2
    ), st AS (
      -- exact HUGEINT variance difference, cast once (mirrors
      -- seasonal_zscore's decimal form — no double cancellation)
      SELECT event_type, hr,
             CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
             CASE WHEN n > 1 AND CAST(n * CAST(syy AS HUGEINT)
                       - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE) > 0
                  THEN sqrt(CAST(n * CAST(syy AS HUGEINT)
                             - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE)
                            / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
             END AS std
      FROM s
    )
    SELECT f.event_id, f.event_type, f.hr, f.y AS value_cents,
           round(floor(((CAST(f.y AS DOUBLE) - st.mean) / st.std) * 1e6 + 0.5)
                 / 1e6, 6) AS z
    FROM f JOIN st ON f.event_type = st.event_type AND f.hr = st.hr
    WHERE st.std IS NOT NULL
      AND abs((CAST(f.y AS DOUBLE) - st.mean) / st.std) >= 3.0
    """,
)
def q178_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """De-seasonalized outliers: z-score each event against its
    (event_type, hour-of-day) cell, keep |z| >= 3
    (operators/aggregates.py:seasonal_zscore — 120-cell exact-sum stats
    broadcast back onto the facts)."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import seasonal_zscore

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.hour("ts").cast("long").alias("hr"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("y"),
    )
    out = seasonal_zscore(ev, ["event_type", "hr"], "y", threshold=3.0)
    return out.select(
        "event_id",
        "event_type",
        "hr",
        F.col("y").alias("value_cents"),
        dround("z", 6).alias("z"),
    )


_ACF_MAX_LAG = 7
_ACF_LAG_COLS = ",\n             ".join(
    f"lag(y, {lag}) OVER (PARTITION BY event_type ORDER BY day) AS x{lag}"
    for lag in range(1, _ACF_MAX_LAG + 1)
)
_ACF_STACK = "\n      UNION ALL ".join(
    f"SELECT event_type, CAST({lag} AS BIGINT) AS lag, y, x{lag} AS x "
    f"FROM lagged WHERE x{lag} IS NOT NULL"
    for lag in range(1, _ACF_MAX_LAG + 1)
)


@register(
    "q179_daily_acf",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(sum({_CENTS}) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), lagged AS (
      SELECT event_type, day, y,
             {_ACF_LAG_COLS}
      FROM daily
    ), pairs AS (
      {_ACF_STACK}
    ), s AS (
      SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n_pairs,
             sum(CAST(x AS DECIMAL(38,0))) AS sx,
             sum(CAST(y AS DECIMAL(38,0))) AS sy,
             sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
             sum(CAST(y * y AS DECIMAL(38,0))) AS syy,
             sum(CAST(x * y AS DECIMAL(38,0))) AS sxy
      FROM pairs GROUP BY 1, 2
    ), e AS (
      -- exact HUGEINT differences, cast once (mirrors acf's decimal
      -- form — no double cancellation)
      SELECT event_type, lag, n_pairs,
             CAST(n_pairs * CAST(sxx AS HUGEINT)
               - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE) AS vx,
             CAST(n_pairs * CAST(syy AS HUGEINT)
               - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE) AS vy,
             CAST(n_pairs * CAST(sxy AS HUGEINT)
               - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE) AS cov
      FROM s
    )
    SELECT event_type, lag, n_pairs,
           round(floor((CASE WHEN vx > 0 AND vy > 0
                        THEN cov / sqrt(vx * vy) END) * 1e6 + 0.5) / 1e6, 6) AS r
    FROM e
    """,
)
def q179_daily_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the per-event-type daily revenue series at
    lags 1..7 (operators/aggregates.py:acf — one window pass computes
    all shifts, exact-sum Pearson per (key, lag))."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import acf

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").cast("long").alias("y"))
    )
    out = acf(daily, "event_type", "day", "y", max_lag=_ACF_MAX_LAG)
    return out.select(
        "event_type", "lag", "n_pairs", dround("r", 6).alias("r")
    )


def _poisson_case_sql(u_expr: str) -> str:
    from mimic_iv_data_pipeline_spark.operators.sampling import _POISSON1_CDF

    whens = "\n             ".join(
        f"WHEN {u_expr} < {c!r} THEN {k}" for k, c in enumerate(_POISSON1_CDF)
    )
    return f"CAST(CASE {whens}\n             ELSE 8 END AS BIGINT)"


@register(
    "q180_bootstrap_ci",
    oracle=f"""
    WITH f AS (
      SELECT event_type, event_id, {_CENTS} AS y FROM events
    ), reps AS (
      SELECT f.*, b.b FROM f, (SELECT unnest(range(0, 40)) AS b) b
    ), u AS (
      SELECT event_type, b, y,
             CAST(concat('0x', substr(md5(concat('boot:',
                    cast(event_id AS VARCHAR), ':', cast(b AS VARCHAR))), 1, 8))
                  AS BIGINT) / 4294967296.0 AS u01
      FROM reps
    ), w AS (
      SELECT event_type, b, y, {_poisson_case_sql("u01")} AS wgt FROM u
    ), per_rep AS (
      SELECT event_type, b,
             CAST(sum(wgt) AS BIGINT) AS sw,
             sum(CAST(wgt * y AS DECIMAL(38,0))) AS swy,
             sum(CAST(y AS DECIMAL(38,0))) AS sy,
             CAST(count(*) AS BIGINT) AS n
      FROM w GROUP BY 1, 2
    ), means AS (
      SELECT event_type, b, sy, n,
             CAST(swy AS DOUBLE) / CAST(sw AS DOUBLE) AS mb
      FROM per_rep WHERE sw > 0
    ), ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type ORDER BY mb ASC, b ASC) AS rn,
             count(*) OVER (PARTITION BY event_type) AS nb
      FROM means
    )
    SELECT event_type, max(n) AS n,
           round(floor((CAST(max(sy) AS DOUBLE) / CAST(max(n) AS DOUBLE))
                 * 1e6 + 0.5) / 1e6, 6) AS mean,
           -- survivor-count-based ranks (operator contract): with no
           -- dropped replicates nb = 40 and these are rn = 2 / rn = 39
           round(floor(max(CASE WHEN rn = CAST(floor(0.025 * nb) AS BIGINT) + 1
                                AND nb >= 2 THEN mb END)
                 * 1e6 + 0.5) / 1e6, 6) AS ci_lo,
           round(floor(max(CASE WHEN rn = nb - CAST(floor(0.025 * nb) AS BIGINT)
                                AND nb >= 2 THEN mb END)
                 * 1e6 + 0.5) / 1e6, 6) AS ci_hi
    FROM ranked GROUP BY event_type
    """,
)
def q180_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for mean value-in-cents per event type,
    B=40 deterministic md5 replicates
    (operators/sampling.py:poisson_bootstrap_ci)."""
    from mimic_iv_data_pipeline_spark.operators.sampling import poisson_bootstrap_ci

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("y"),
    )
    out = poisson_bootstrap_ci(
        ev, "event_type", "y", "event_id", n_replicates=40, alpha=0.05, salt="boot"
    )
    return out.select(
        "event_type",
        "n",
        dround("mean", 6).alias("mean"),
        dround("ci_lo", 6).alias("ci_lo"),
        dround("ci_hi", 6).alias("ci_hi"),
    )


# --- q212: Markov stationary distribution (3 power steps) --------------------
# The q169 transition matrix driven 3 fixed power steps from uniform —
# exact integer micro-unit recurrence (v' = (Σ v·p + 5e5) // 1e6), so
# the unrolled CTE twin replays it bitwise. The fixed-parameter-oracle
# trick (q123 family) applied to an iterative kernel.
@register(
    "q212_markov_stationary",
    oracle="""
    WITH seq AS (
      SELECT event_type AS f,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS t
      FROM events
    ), c AS (
      SELECT f, t, count(*) AS n FROM seq WHERE t IS NOT NULL GROUP BY 1, 2
    ), p AS (
      SELECT f, t,
             CAST(floor(n * 1.0 / sum(n) OVER (PARTITION BY f) * 1e6 + 0.5)
                  AS BIGINT) AS p
      FROM c
    ), states AS (
      SELECT f AS s FROM c UNION SELECT t FROM c
    ), v0 AS (
      SELECT s, CAST(1000000 // (SELECT count(*) FROM states) AS BIGINT) AS v
      FROM states
    ), v1 AS (
      SELECT p.t AS s, CAST((sum(v0.v * p.p) + 500000) // 1000000 AS BIGINT) AS v
      FROM v0 JOIN p ON v0.s = p.f GROUP BY 1
    ), v2 AS (
      SELECT p.t AS s, CAST((sum(v1.v * p.p) + 500000) // 1000000 AS BIGINT) AS v
      FROM v1 JOIN p ON v1.s = p.f GROUP BY 1
    ), v3 AS (
      SELECT p.t AS s, CAST((sum(v2.v * p.p) + 500000) // 1000000 AS BIGINT) AS v
      FROM v2 JOIN p ON v2.s = p.f GROUP BY 1
    )
    SELECT s AS state, v AS v_micro,
           round(floor(CAST(v AS DOUBLE)
                       / CAST((SELECT sum(v) FROM v3) AS DOUBLE)
                       * 1e6 + 0.5) / 1e6, 6) AS share
    FROM v3
    """,
)
def q212_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 power steps toward the event-type stationary distribution
    (operators/graph.py:markov_power_iteration — |S|-row broadcast
    joins over q169's transition counts)."""
    from mimic_iv_data_pipeline_spark.operators.graph import (
        markov_power_iteration,
    )
    from mimic_iv_data_pipeline_spark.operators.windows import transition_matrix

    ev = load_table(spark, sf_dir, "events")
    trans = transition_matrix(ev, tie_break="event_id").select(
        "from_state", "to_state", "n"
    )
    v = markov_power_iteration(trans, steps=3)
    total = v.agg(F.sum("v_micro").alias("__tv"))
    return v.crossJoin(F.broadcast(total)).select(
        "state",
        "v_micro",
        dround(
            F.col("v_micro").cast("double") / F.col("__tv").cast("double"), 6
        ).alias("share"),
    )
