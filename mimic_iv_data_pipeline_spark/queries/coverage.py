"""Coverage queries for the remaining SURVEY.md §2 inventory lines:
row-set operations (U-family), one-hot/label encoding (F12/F13),
grouped maxima (A6), and the interval→signal operator (T5)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.functions.rounding import dround

from mimic_iv_data_pipeline_spark.queries import register
from mimic_iv_data_pipeline_spark.sources.readers import load_table


# --- q45: intersect / except (U5, §2.7) ------------------------------------
# k-fold style id-set algebra (ml_models.py:71) as real row-set ops.
@register(
    "q45_set_ops",
    oracle="""
    SELECT c_custkey, 'both' AS tag FROM (
      SELECT o_custkey AS c_custkey FROM orders WHERE year(o_orderdate) = 1995
      INTERSECT
      SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    )
    UNION ALL
    SELECT c_custkey, 'only_1995' AS tag FROM (
      SELECT o_custkey AS c_custkey FROM orders WHERE year(o_orderdate) = 1995
      EXCEPT
      SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    )
    """,
)
def q45_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    y95 = o.filter(F.year("o_orderdate") == 1995).select(
        F.col("o_custkey").alias("c_custkey")
    )
    y96 = o.filter(F.year("o_orderdate") == 1996).select(
        F.col("o_custkey").alias("c_custkey")
    )
    both = y95.intersect(y96).withColumn("tag", F.lit("both"))
    # subtract = SQL set EXCEPT (exceptAll is bag difference — a custkey
    # with 3 orders in 1995 and 1 in 1996 must NOT survive)
    only95 = y95.subtract(y96).withColumn("tag", F.lit("only_1995"))
    return both.unionByName(only95)


# --- q46: one-hot encoding (F12) -------------------------------------------
# MultiLabelBinarizer / pd.get_dummies (ml_models.py:147-167) as a pivot
# with an explicit domain and 0-fill.
@register(
    "q46_one_hot",
    oracle="""
    SELECT c_custkey,
           CAST(max(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS INT) AS seg_automobile,
           CAST(max(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS INT)   AS seg_building,
           CAST(max(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END) AS INT)  AS seg_furniture,
           CAST(max(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END) AS INT)  AS seg_household,
           CAST(max(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS INT)  AS seg_machinery
    FROM customer
    GROUP BY c_custkey
    """,
)
def q46_one_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    aggs = [
        F.max(
            F.when(F.col("c_mktsegment") == s, 1).otherwise(0)
        ).cast("int").alias(f"seg_{s.lower()}")
        for s in segs
    ]
    return c.groupBy("c_custkey").agg(*aggs)


# --- q47: label encoding via vocabulary join (F13, A15) --------------------
# LabelEncoder / vocab-dict replace (ml_models.py:105-116,
# dl_train.py:347-351) as a broadcast join against a derived vocab.
@register(
    "q47_label_encode",
    oracle="""
    WITH vocab AS (
      SELECT event_type AS token,
             CAST(row_number() OVER (ORDER BY event_type) - 1 AS BIGINT) AS type_id
      FROM (SELECT DISTINCT event_type FROM events)
    )
    SELECT e.event_id, v.type_id
    FROM events e JOIN vocab v ON e.event_type = v.token
    """,
)
def q47_label_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    vocab = (
        e.select("event_type")
        .distinct()
        .withColumn(
            "type_id", (F.row_number().over(Window.orderBy("event_type")) - 1).cast("long")
        )
    )
    return e.join(F.broadcast(vocab), on="event_type").select("event_id", "type_id")


# --- q48: grouped maxima / two-level max (A6) ------------------------------
# cond.groupby('stay_id').size().max() (data_generation_icu.py:77):
# per-entity counts, then per-group max of those counts.
@register(
    "q48_group_max",
    oracle="""
    SELECT l_returnflag,
           max(per_order) AS max_items_per_order,
           round(max(l_quantity), 4) AS max_qty
    FROM (
      SELECT l_returnflag, l_orderkey, count(*) OVER (PARTITION BY l_returnflag, l_orderkey) AS per_order, l_quantity
      FROM lineitem
    )
    GROUP BY l_returnflag
    """,
)
def q48_group_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag", "l_orderkey")
    return (
        li.withColumn("per_order", F.count(F.lit(1)).over(w))
        .groupBy("l_returnflag")
        .agg(
            F.max("per_order").alias("max_items_per_order"),
            dround(F.max("l_quantity"), 4).alias("max_qty"),
        )
    )


# --- q49: interval → per-bucket signal (T5) --------------------------------
# Med-administration signal (data_generation_icu.py:478-501): each
# purchase opens a 6-hour "active" interval; signal=1 for any covered
# 6-hour grid bucket within the first week per user.
@register(
    "q49_interval_signal",
    oracle="""
    WITH grid AS (
      SELECT u.user_id, g.t
      FROM (SELECT DISTINCT user_id FROM events) u
      CROSS JOIN (SELECT unnest(range(0, 28)) AS t) g
    ), intervals AS (
      SELECT user_id,
             CAST(floor(date_diff('second', TIMESTAMP '2024-01-01 00:00:00', ts) / 21600.0) AS BIGINT) AS b_start
      FROM events WHERE event_type = 'purchase'
    )
    SELECT grid.user_id, CAST(grid.t AS BIGINT) AS t,
           CAST(max(CASE WHEN intervals.b_start IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS signal
    FROM grid LEFT JOIN intervals
      ON grid.user_id = intervals.user_id
     AND grid.t >= intervals.b_start AND grid.t < intervals.b_start + 2
    GROUP BY grid.user_id, grid.t
    """,
)
def q49_interval_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mimic_iv_data_pipeline_spark.operators.temporal import (
        densify_time_grid,
        hours_between,
        interval_signal,
    )

    e = load_table(spark, sf_dir, "events")
    anchors = e.select("user_id").distinct().withColumn("grid_len", F.lit(28))
    grid = densify_time_grid(anchors, "user_id", "grid_len", time_col="t")
    intervals = (
        e.filter(F.col("event_type") == "purchase")
        .withColumn(
            "hours",
            hours_between(F.col("ts"), F.lit("2024-01-01 00:00:00").cast("timestamp")),
        )
        .select(
            "user_id",
            F.floor(F.col("hours") / 6).cast("long").alias("start_time"),
        )
        .withColumn("stop_time", F.col("start_time") + 2)
    )
    out = interval_signal(
        grid, intervals, id_col="user_id", time_col="t",
        start_col="start_time", stop_col="stop_time",
    )
    return out.select("user_id", "t", F.col("signal").cast("int").alias("signal"))


# --- q50: winnowing fingerprints (MOSS; scale extension) -------------------
@register(
    "q50_winnowing",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(range(0, greatest(len(w) - 3, 0) + 1)) AS pos,
             unnest(list_transform(range(0, greatest(len(w) - 3, 0) + 1),
                    i -> md5(concat_ws(' ', w[i+1], w[i+2], w[i+3])))) AS gram_hash
      FROM toks
    ), winmin AS (
      SELECT doc_id, pos,
             min(gram_hash) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint,
             count(*) OVER (PARTITION BY doc_id) AS total
      FROM grams
    )
    SELECT DISTINCT doc_id, fingerprint
    FROM winmin WHERE pos <= greatest(total - 4, 0)
    """,
)
def q50_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mimic_iv_data_pipeline_spark.operators.text import winnowing_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    out = winnowing_fingerprints(docs, "doc_id", k=3, w=4)
    return out.select(F.col("doc").alias("doc_id"), "fingerprint")


# --- q51: classification metrics + calibration error (A12/D8) --------------
@register(
    "q51_eval_metrics",
    oracle="""
    WITH t AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             CASE WHEN value > 250 THEN 1 ELSE 0 END AS p
      FROM events
    )
    SELECT round(avg(CASE WHEN y = p THEN 1.0 ELSE 0.0 END), 6) AS accuracy,
           round(sum(CASE WHEN y = 1 AND p = 1 THEN 1 ELSE 0 END) * 1.0
                 / nullif(sum(p), 0), 6) AS precision,
           round(sum(CASE WHEN y = 1 AND p = 1 THEN 1 ELSE 0 END) * 1.0
                 / nullif(sum(y), 0), 6) AS recall,
           round(2.0 * sum(CASE WHEN y = 1 AND p = 1 THEN 1 ELSE 0 END)
                 / nullif(sum(p) + sum(y), 0), 6) AS f1,
           count(*) AS n
    FROM t
    """,
)
def q51_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    y = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    p = F.when(F.col("value") > 250, 1).otherwise(0)
    t = e.select(y.alias("y"), p.alias("p"))
    tp = F.sum(F.when((F.col("y") == 1) & (F.col("p") == 1), 1).otherwise(0))
    return t.agg(
        dround(F.avg(F.when(F.col("y") == F.col("p"), 1.0).otherwise(0.0)), 6).alias("accuracy"),
        dround(tp * 1.0 / F.nullif(F.sum("p"), F.lit(0)), 6).alias("precision"),
        dround(tp * 1.0 / F.nullif(F.sum("y"), F.lit(0)), 6).alias("recall"),
        dround(2.0 * tp / F.nullif(F.sum("p") + F.sum("y"), F.lit(0)), 6).alias("f1"),
        F.count(F.lit(1)).alias("n"),
    )


# --- q52: temperature-scaling calibration (D8) -----------------------------
@register(
    "q52_temperature_scaling",
    oracle="""
    WITH grid AS (
      SELECT CAST(unnest([0.5, 0.75, 1.0, 1.25, 1.5, 1.75, 2.0, 2.25, 2.5, 2.75, 3.0]) AS DOUBLE) AS T
    ), scored AS (
      SELECT g.T,
             (e.value - 250.0) / 50.0 AS z,
             CASE WHEN e.event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
      FROM events e CROSS JOIN grid g
    ), clamped AS (
      -- mirror the operator's saturation clamp (p in [eps, 1-eps])
      SELECT T, y,
             least(greatest(1.0 / (1.0 + exp(-z / T)), 1e-15),
                   1.0 - 1e-15) AS p
      FROM scored
    ), per_t AS (
      SELECT T,
             round(avg(-(y * ln(p) + (1.0 - y) * ln(1.0 - p))), 6) AS nll
      FROM clamped GROUP BY T
    )
    SELECT round(T, 6) AS T, nll
    FROM per_t
    QUALIFY row_number() OVER (ORDER BY nll ASC, T ASC) = 1
    """,
)
def q52_temperature_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mimic_iv_data_pipeline_spark.operators.aggregates import fit_temperature

    e = load_table(spark, sf_dir, "events")
    preds = e.select(
        ((F.col("value") - 250.0) / 50.0).alias("logit"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    return fit_temperature(preds, "logit", "y")


# --- q54: cube grouping sets (A14, the other grouping-set form) ------------
@register(
    "q54_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q54_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(F.count(F.lit(1)).alias("n"))


# --- q55: per-series trend slope (clinical trend feature; T8 adjunct) ------
# Slope of value over time per (user, event_type): the "is the vital
# trending up" feature a clinical model wants — one JVM-native
# regr_slope aggregate, no UDF.
@register(
    "q55_trend_slope",
    oracle="""
    SELECT user_id, event_type,
           round(regr_slope(value, date_diff('second', TIMESTAMP '2024-01-01 00:00:00', ts) / 3600.0), 4) AS slope,
           count(*) AS n
    FROM events
    GROUP BY user_id, event_type
    HAVING count(*) >= 2
    """,
)
def q55_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    t_hours = (
        F.unix_timestamp("ts")
        - F.unix_timestamp(F.lit("2024-01-01 00:00:00").cast("timestamp"))
    ) / 3600.0
    return (
        e.withColumn("t_h", t_hours)
        .groupBy("user_id", "event_type")
        .agg(
            dround(F.regr_slope(F.col("value"), F.col("t_h")), 4).alias("slope"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("n") >= 2)
    )


# --- q56: sketch-based distinct counting (100 TB path). HLL++ estimates
# differ across engines by design, so the raw estimate is not hashable —
# instead the query emits the exact distinct count (oracle-checked
# exactly) plus a BOOLEAN asserting the estimate landed within 10% of
# exact (rsd=0.02, so ±10% is ~5σ); the oracle pins that column to TRUE.
# Spark's HLL++ is deterministic for fixed input+rsd, so the hash is
# stable — this upgrades q56 from rows-only to a real oracle row that
# still exercises the sketch path. ------------------------------------------
@register(
    "q56_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           true AS approx_within_tol
    FROM lineitem GROUP BY 1
    """,
)
def q56_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= 0.1 * F.col("exact_parts")
        ).alias("approx_within_tol"),
    )


# --- q57: ECE / MCE calibration scalars (D8; reference
# model/evaluation.py:219-250 calb_bins + calb_metrics) ----------------------
@register(
    "q57_ece_mce",
    oracle="""
    WITH scored AS (
      SELECT 1.0 / (1.0 + exp(-(value - 250.0) / 50.0)) AS p,
             CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
      FROM events
    ), per_bin AS (
      SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin,
             count(*) AS n, avg(y) AS acc, avg(p) AS conf
      FROM scored GROUP BY 1
    )
    SELECT round(sum(n * abs(acc - conf)) / sum(n), 6) AS ece,
           round(max(abs(acc - conf)), 6) AS mce
    FROM per_bin
    """,
)
def q57_ece_mce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mimic_iv_data_pipeline_spark.operators.aggregates import ece_mce

    e = load_table(spark, sf_dir, "events")
    preds = e.select(
        (1.0 / (1.0 + F.exp(-(F.col("value") - 250.0) / 50.0))).alias("p"),
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias("y"),
    )
    return ece_mce(preds, "p", "y", num_bins=10)


# --- q58: survival-format sequence export, flattened for the oracle
# (reference preprocess_outcomes.py:48-140; nested visits verified by
# golden tests, this differential checks Δt/encoding/label arithmetic
# end to end on the events table) -------------------------------------------
@register(
    "q58_survival_export",
    oracle="""
    WITH ev AS (
      SELECT user_id AS pt, event_type AS code, CAST(ts AS DATE) AS vdate
      FROM events
    ), vocab AS (
      SELECT code, row_number() OVER (ORDER BY code) AS id
      FROM (SELECT DISTINCT code FROM ev)
    ), lbl AS (
      SELECT pt,
             CAST(max(CASE WHEN code = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE) AS label_event,
             CAST(date_diff('day', min(vdate), max(vdate)) AS DOUBLE) AS label_tte
      FROM ev GROUP BY pt
    )
    SELECT ev.pt,
           CAST(count(DISTINCT ev.vdate) AS BIGINT) AS n_visits,
           CAST(count(*) AS BIGINT) AS total_codes,
           CAST(date_diff('day', min(ev.vdate), max(ev.vdate)) AS BIGINT) AS sum_dt,
           CAST(sum(vocab.id) AS BIGINT) AS codes_sum,
           any_value(lbl.label_event) AS label_event,
           any_value(lbl.label_tte) AS label_tte
    FROM ev JOIN vocab USING (code) JOIN lbl USING (pt)
    GROUP BY ev.pt
    """,
)
def q58_survival_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mimic_iv_data_pipeline_spark.plans.survival import survival_sequences

    e = load_table(spark, sf_dir, "events")
    ev = e.select(
        F.col("user_id").alias("pt_id"),
        F.col("event_type").alias("code"),
        F.to_date("ts").alias("visit_date"),
    )
    labels = ev.groupBy("pt_id").agg(
        F.max(F.when(F.col("code") == "purchase", 1).otherwise(0)).alias("event_label"),
        F.datediff(F.max("visit_date"), F.min("visit_date")).alias("time_to_event"),
    )
    seqs, _vocab = survival_sequences(ev, labels)
    sum_codes = F.aggregate(
        F.col("visits"),
        F.lit(0).cast("long"),
        lambda acc, v: acc + F.size(v["codes"]).cast("long"),
    )
    sum_dt = F.aggregate(
        F.col("visits"), F.lit(0).cast("long"), lambda acc, v: acc + v["dt"]
    )
    codes_sum = F.aggregate(
        F.flatten(F.transform(F.col("visits"), lambda v: v["codes"])),
        F.lit(0).cast("long"),
        lambda acc, c: acc + c,
    )
    return seqs.select(
        "pt",
        F.size("visits").cast("long").alias("n_visits"),
        sum_codes.alias("total_codes"),
        sum_dt.alias("sum_dt"),
        codes_sum.alias("codes_sum"),
        F.col("label")[0].alias("label_event"),
        F.col("label")[1].alias("label_tte"),
    )


# --- q61: BEHRT sequence assembly, flattened differential (D7;
# build_sequences → build_vocab → encode_sequences over the events
# table; nested token arrays are reduced to order-insensitive
# aggregates the oracle can reproduce — the nested shape itself is
# golden-tested in tests/test_nlp_tokenization.py) ---------------------------
@register(
    "q61_behrt_sequences",
    oracle="""
    WITH toks AS (
      SELECT user_id AS subject_id,
             CAST(floor(date_diff('second', TIMESTAMP '2024-01-01 00:00:00', ts) / 3600.0) AS BIGINT) AS t,
             event_type AS token
      FROM events
    ), vocab AS (
      -- 5 specials occupy ids 0-4; corpus tokens follow alphabetically
      SELECT token, row_number() OVER (ORDER BY token) - 1 + 5 AS id
      FROM (SELECT DISTINCT token FROM toks)
    ), ordered AS (
      SELECT t.subject_id, v.id,
             row_number() OVER (
               PARTITION BY t.subject_id ORDER BY t.t, t.token, v.id
             ) AS pos
      FROM toks t JOIN vocab v USING (token)
    )
    SELECT subject_id,
           CAST(count(*) AS BIGINT) AS seq_len,
           count(*) > 512 AS truncated,
           CAST(sum(CASE WHEN pos <= 512 THEN id ELSE 0 END) AS BIGINT) AS ids_sum
    FROM ordered
    GROUP BY subject_id
    """,
)
def q61_behrt_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mimic_iv_data_pipeline_spark.operators.temporal import hours_between
    from mimic_iv_data_pipeline_spark.plans.tokenization import (
        build_sequences,
        build_vocab,
        encode_sequences,
    )

    e = load_table(spark, sf_dir, "events")
    stream = e.select(
        F.col("user_id").alias("subject_id"),
        F.floor(
            hours_between(
                F.col("ts"), F.lit("2024-01-01 00:00:00").cast("timestamp")
            )
        )
        .cast("long")
        .alias("t"),
        F.col("event_type").alias("token"),
        F.lit("event").alias("modality"),
    )
    seqs = build_sequences([stream], id_col="subject_id", time_col="t")
    vocab = build_vocab(seqs)
    encoded = encode_sequences(seqs, vocab)
    ids_sum = F.aggregate(
        F.col("token_ids"), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return (
        seqs.select("subject_id", "seq_len", "truncated")
        .join(encoded, on="subject_id")
        .select(
            "subject_id",
            "seq_len",
            "truncated",
            ids_sum.alias("ids_sum"),
        )
    )


# --- q62: horizontal concat on (id, t) (U3: the reference's pd.concat of
# per-feature frames sharing a time index, data_generation_icu.py:396-420) ---
@register(
    "q62_horizontal_concat",
    oracle="""
    WITH a AS (
      SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             round(avg(value), 4) AS click_avg
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ), b AS (
      SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             round(avg(value), 4) AS purchase_avg
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT coalesce(a.user_id, b.user_id) AS user_id,
           coalesce(a.day, b.day) AS day,
           a.click_avg, b.purchase_avg
    FROM a FULL OUTER JOIN b ON a.user_id = b.user_id AND a.day = b.day
    """,
)
def q62_horizontal_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")

    def branch(etype: str, out: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == etype)
            .groupBy(
                "user_id", F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
            )
            .agg(dround(F.avg("value"), 4).alias(out))
        )

    a = branch("click", "click_avg")
    b = branch("purchase", "purchase_avg")
    return a.join(b, on=["user_id", "day"], how="full")


# --- q140: one-pass table profile -------------------------------------------
# The reference's data-quality surface is ad-hoc pandas passes
# (feature_selection_hosp.py's isna().sum()/nunique() loops — one scan
# per stat); profile_table folds every per-column stat into ONE
# aggregate over one scan, unpivoted plan-side. The oracle recomputes
# each column's row independently.
@register(
    "q140_profile_table",
    oracle="""
    SELECT 'o_orderkey' AS col_name, 'bigint' AS data_type,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_value,
           CAST(max(o_orderkey) AS VARCHAR) AS max_value,
           floor(avg(o_orderkey) * 1e6 + 0.5) / 1e6 AS mean_value
    FROM orders
    UNION ALL
    SELECT 'o_custkey', 'bigint', count(*),
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR),
           floor(avg(o_custkey) * 1e6 + 0.5) / 1e6
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', 'string', count(*),
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_orderstatus),
           CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR),
           CAST(NULL AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', 'double', count(*),
           CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_totalprice),
           CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR),
           floor(avg(o_totalprice) * 1e6 + 0.5) / 1e6
    FROM orders
    """,
)
def q140_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of orders (nulls/distincts/min/max/mean) in a
    single aggregate pass (operators/profiling.py:profile_table)."""
    from mimic_iv_data_pipeline_spark.operators.profiling import profile_table

    orders = load_table(spark, sf_dir, "orders")
    prof = profile_table(
        orders, ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    )
    return prof.withColumnRenamed("column", "col_name")


# --- q141: declarative expectations validation ------------------------------
# Great-Expectations / dbt-test semantics as plain plans: the scalar
# rules fold into one aggregate over one scan; uniqueness is its own
# distinct aggregate; the FK rule is a broadcast left-anti join.
@register(
    "q141_expectations",
    oracle="""
    SELECT 'not_null(o_custkey)' AS rule,
           count(*) AS n_checked,
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations,
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0 AS BIGINT)
             AS passed
    FROM orders
    UNION ALL
    SELECT 'accepted_values(o_orderstatus)', count(*),
           CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
                          AND o_orderstatus NOT IN ('O','F','P')
                     THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
                          AND o_orderstatus NOT IN ('O','F','P')
                     THEN 1 ELSE 0 END) = 0 AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'in_range(o_totalprice)', count(*),
           CAST(sum(CASE WHEN o_totalprice IS NOT NULL
                          AND (o_totalprice < 0 OR o_totalprice > 1000000)
                     THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN o_totalprice IS NOT NULL
                          AND (o_totalprice < 0 OR o_totalprice > 1000000)
                     THEN 1 ELSE 0 END) = 0 AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'matches_regex(o_orderpriority)', count(*),
           CAST(sum(CASE WHEN o_orderpriority IS NOT NULL
                          AND NOT regexp_matches(o_orderpriority,
                                                 '^[1-5]-[A-Z ]+$')
                     THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN o_orderpriority IS NOT NULL
                          AND NOT regexp_matches(o_orderpriority,
                                                 '^[1-5]-[A-Z ]+$')
                     THEN 1 ELSE 0 END) = 0 AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'unique(o_orderkey)', count(*),
           count(o_orderkey) - count(DISTINCT o_orderkey),
           CAST(count(o_orderkey) - count(DISTINCT o_orderkey) = 0 AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'foreign_key(o_custkey)', (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders o
            WHERE o.o_custkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)),
           CAST((SELECT count(*) FROM orders o
                 WHERE o.o_custkey IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) = 0
                AS BIGINT)
    """,
)
def q141_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six declarative expectations over orders (null / domain / range /
    format-regex / uniqueness / referential integrity) evaluated as plans
    (operators/profiling.py:validate_expectations)."""
    from mimic_iv_data_pipeline_spark.operators.profiling import (
        Expectation,
        validate_expectations,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    rules = [
        Expectation("not_null", ("o_custkey",)),
        Expectation("accepted_values", ("o_orderstatus",), values=("O", "F", "P")),
        Expectation("in_range", ("o_totalprice",), lo=0, hi=1_000_000),
        Expectation(
            "matches_regex", ("o_orderpriority",), pattern=r"^[1-5]-[A-Z ]+$"
        ),
        Expectation("unique", ("o_orderkey",)),
        Expectation(
            "foreign_key", ("o_custkey",), ref=customer, ref_cols=("c_custkey",)
        ),
    ]
    out = validate_expectations(orders, rules)
    return out.select(
        "rule", "n_checked", "n_violations", F.col("passed").cast("long").alias("passed")
    )


# --- q147: unpivot / melt (T7's inverse) ------------------------------------
# Wide→long reshaping with the native UNPIVOT (Spark 3.4+ DataFrame
# .unpivot — an Expand node, one narrow pass, no shuffle), the inverse
# of the q32 wide pivot.
@register(
    "q147_unpivot",
    oracle="""
    SELECT o_orderkey, 'o_totalprice' AS measure, o_totalprice AS value
    FROM orders
    UNION ALL
    SELECT o_orderkey, 'o_custkey', CAST(o_custkey AS DOUBLE) FROM orders
    """,
)
def q147_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders melted to (key, measure, value) long form via the native
    unpivot operator."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.col("o_custkey").cast("double")
    )
    return o.unpivot(
        ids=["o_orderkey"],
        values=["o_totalprice", "o_custkey"],
        variableColumnName="measure",
        valueColumnName="value",
    )
