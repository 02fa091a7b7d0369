"""Round-5 fourth-wave operator tests: rolling windows, interval merge,
EWMA, CUSUM, ROC/PR curves, lift/gains, attribution, key-skew profile."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------------ rolling window
def test_rolling_window_matches_bruteforce(spark):
    from mimic_iv_data_pipeline_spark.operators.windows import rolling_window

    rows = []
    for k in range(3):
        for i in range(40):
            ts = (i * 37 + k * 11) % 300          # deliberately unsorted + dups
            rows.append((k, i, ts, (i * 7 + k) % 13))
    df = spark.createDataFrame(rows, "k long, rid long, sec long, x long")
    ts = df.withColumn("ts", F.timestamp_seconds(F.col("sec")))
    out = rolling_window(
        ts, "k", "ts", {"n": F.count(F.lit(1)), "s": F.sum("x")}, window_seconds=50
    )
    got = {(r["k"], r["rid"]): (r["n"], r["s"]) for r in out.collect()}
    for k, rid, sec, x in rows:
        frame = [r for r in rows if r[0] == k and sec - 50 <= r[2] <= sec]
        assert got[(k, rid)] == (len(frame), sum(r[3] for r in frame))


def test_rolling_window_peers_share_frame(spark):
    """RANGE frame: rows with equal timestamps see identical frames."""
    from mimic_iv_data_pipeline_spark.operators.windows import rolling_window

    df = spark.createDataFrame(
        [(1, 10, 1), (1, 10, 2), (1, 10, 4)], "k long, sec long, x long"
    ).withColumn("ts", F.timestamp_seconds(F.col("sec")))
    out = rolling_window(df, "k", "ts", {"s": F.sum("x")}, window_seconds=5)
    assert {r["s"] for r in out.collect()} == {7}


# ----------------------------------------------------------- interval merge
def test_merge_intervals_semantics(spark):
    from mimic_iv_data_pipeline_spark.operators.temporal import merge_intervals

    df = spark.createDataFrame(
        [
            ("a", 0, 10),    # island 1: [0,15] (overlap + touch chain)
            ("a", 5, 12),
            ("a", 12, 15),   # touching merges
            ("a", 16, 20),   # island 2 (gap of 1)
            ("b", 0, 1),     # other key unaffected
        ],
        "k string, s long, e long",
    )
    got = sorted(
        (r["k"], r["island_start"], r["island_end"], r["n_merged"])
        for r in merge_intervals(df, "k", "s", "e").collect()
    )
    assert got == [("a", 0, 15, 3), ("a", 16, 20, 1), ("b", 0, 1, 1)]


def test_merge_intervals_islands_are_disjoint(spark, sf_smoke):
    """Property: consecutive islands per key are separated by a real gap
    and n_merged sums back to the input row count."""
    from mimic_iv_data_pipeline_spark.operators.temporal import merge_intervals
    from mimic_iv_data_pipeline_spark.sources.readers import load_table

    ev = load_table(spark, sf_smoke, "events").select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.floor(F.col("value") * 60).cast("long") * 1000000)
        .alias("e"),
    )
    n_in = ev.count()
    out = merge_intervals(ev, "user_id", "s", "e").collect()
    assert sum(r["n_merged"] for r in out) == n_in
    per_key: dict[int, list] = {}
    for r in out:
        per_key.setdefault(r["user_id"], []).append(r)
    for islands in per_key.values():
        islands.sort(key=lambda r: r["island_start"])
        for a, b in zip(islands, islands[1:]):
            assert b["island_start"] > a["island_end"]
            assert a["island_end"] >= a["island_start"]


# ------------------------------------------------------------------- EWMA
def test_ewma_matches_recursion(spark):
    from mimic_iv_data_pipeline_spark.operators.windows import ewma

    rows = [(k, i, float(((i * 37 + k * 11) % 50) - 20)) for k in range(3) for i in range(30)]
    df = spark.createDataFrame(rows, "k long, rid long, x double").withColumn(
        "ts", F.timestamp_seconds(F.col("rid") * 10)
    )
    got = {
        (r["k"], r["rid"]): r["e"]
        for r in ewma(df, "k", "ts", "x", 0.25, tie_break="rid", out_col="e").collect()
    }
    for k in range(3):
        e = None
        for i in range(30):
            x = float(((i * 37 + k * 11) % 50) - 20)
            e = x if e is None else 0.25 * x + 0.75 * e
            assert got[(k, i)] == pytest.approx(e, abs=1e-12)


def test_ewma_carries_other_columns(spark):
    from mimic_iv_data_pipeline_spark.operators.windows import ewma

    df = spark.createDataFrame(
        [(1, 0, 2.0, "a"), (1, 1, 4.0, "b")], "k long, rid long, x double, tag string"
    ).withColumn("ts", F.timestamp_seconds("rid"))
    out = {r["rid"]: (r["tag"], r["e"]) for r in
           ewma(df, "k", "ts", "x", 0.25, tie_break="rid", out_col="e").collect()}
    assert out == {0: ("a", 2.0), 1: ("b", 0.25 * 4.0 + 0.75 * 2.0)}


def test_ewma_single_long_key_is_linear_and_exact(spark):
    """Regression for the r5 O(n^2) fold: one 50k-point key must both
    complete fast (linear loop, not quadratic array copies) and match
    the exact recursion at every index."""
    import time

    from mimic_iv_data_pipeline_spark.operators.windows import ewma

    n = 50_000
    df = spark.range(n).select(
        F.lit(1).alias("k"),
        F.col("id").alias("rid"),
        ((F.col("id") * 37 % 101) - 50).cast("double").alias("x"),
    ).withColumn("ts", F.timestamp_seconds(F.col("rid")))
    t0 = time.time()
    got = {
        r["rid"]: r["e"]
        for r in ewma(df, "k", "ts", "x", 0.25, tie_break="rid", out_col="e").collect()
    }
    assert time.time() - t0 < 60  # the r5 fold took minutes here
    e = None
    for i in range(n):
        x = float((i * 37 % 101) - 50)
        e = x if e is None else 0.25 * x + 0.75 * e
        if i % 997 == 0 or i == n - 1:
            assert got[i] == e, i  # bitwise — same IEEE op sequence
    assert len(got) == n


def test_ewma_null_keys_form_one_group(spark):
    """NULL keys group together (Spark groupBy semantics), preserved
    across the bucketed-pandas rewrite's null-safe key-change marker."""
    from mimic_iv_data_pipeline_spark.operators.windows import ewma

    df = spark.createDataFrame(
        [(None, 0, 2.0), (None, 1, 4.0), (7, 0, 10.0)],
        "k int, rid long, x double",
    ).withColumn("ts", F.timestamp_seconds("rid"))
    out = {(r["k"], r["rid"]): r["e"] for r in
           ewma(df, "k", "ts", "x", 0.25, tie_break="rid", out_col="e").collect()}
    assert out[(None, 0)] == 2.0
    assert out[(None, 1)] == 0.25 * 4.0 + 0.75 * 2.0  # chained, not reset
    assert out[(7, 0)] == 10.0


# ------------------------------------------------------------------- CUSUM
def test_cusum_matches_recursion(spark):
    from mimic_iv_data_pipeline_spark.operators.windows import cusum

    rows = [(k, i, ((i * 37 + k * 11) % 50) - 20) for k in range(3) for i in range(40)]
    df = spark.createDataFrame(rows, "k long, rid long, x long").withColumn(
        "ts", F.timestamp_seconds(F.col("rid"))
    )
    got = {
        (r["k"], r["rid"]): r["s"]
        for r in cusum(df, "k", "ts", "x", target=2, tie_break="rid", out_col="s").collect()
    }
    for k in range(3):
        s = 0
        for i in range(40):
            x = ((i * 37 + k * 11) % 50) - 20
            s = max(0, s + (x - 2))
            assert got[(k, i)] == s


def test_cusum_never_negative_and_resets(spark):
    from mimic_iv_data_pipeline_spark.operators.windows import cusum

    df = spark.createDataFrame(
        [(1, 0, 10), (1, 1, -100), (1, 2, 5)], "k long, rid long, x long"
    ).withColumn("ts", F.timestamp_seconds("rid"))
    vals = [r["cusum_plus"] for r in
            cusum(df, "k", "ts", "x", target=0, tie_break="rid")
            .orderBy("rid").collect()]
    assert vals == [10, 0, 5]     # huge negative resets the statistic to 0


# ------------------------------------------------------------- ROC/PR curve
def _roc_fixture(spark):
    rows = [(i, float((i * 7) % 23), 1 if (i * 13) % 5 == 0 else 0) for i in range(200)]
    return rows, spark.createDataFrame(rows, "rid long, score double, y long")


def test_roc_pr_curve_matches_bruteforce(spark):
    from mimic_iv_data_pipeline_spark.operators.aggregates import roc_pr_curve

    rows, df = _roc_fixture(spark)
    got = {r["score"]: r for r in roc_pr_curve(df, "score", "y").collect()}
    P = sum(r[2] for r in rows)
    N = len(rows) - P
    scores = sorted({r[1] for r in rows}, reverse=True)
    tp = fp = 0
    ap = 0.0
    auc2 = 0
    for s in scores:
        pos = sum(1 for r in rows if r[1] == s and r[2] == 1)
        neg = sum(1 for r in rows if r[1] == s and r[2] == 0)
        tp += pos
        fp += neg
        prec_micro = int(1e6 * tp / (tp + fp) + 0.5)
        ap += pos * prec_micro
        auc2 += neg * (2 * tp - pos)
        g = got[s]
        assert (g["cum_tp"], g["cum_fp"]) == (tp, fp)
        assert g["tpr"] == pytest.approx(tp / P)
        assert g["precision"] == pytest.approx(prec_micro / 1e6)
    any_row = next(iter(got.values()))
    assert any_row["ap"] == pytest.approx(ap / (P * 1e6))
    assert any_row["roc_auc"] == pytest.approx(auc2 / (2.0 * P * N))


def test_roc_trapezoid_equals_rank_auc(spark):
    """With ties credited half, trapezoid ROC-AUC over grouped
    thresholds is exactly the Mann-Whitney rank AUC."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import (
        rank_auc,
        roc_pr_curve,
    )

    _, df = _roc_fixture(spark)
    trap = roc_pr_curve(df, "score", "y").select("roc_auc").first()["roc_auc"]
    mw = rank_auc(df, "score", "y").first()[0]   # rank_auc rounds to 6dp
    import math

    assert math.floor(trap * 1e6 + 0.5) / 1e6 == pytest.approx(mw, abs=1e-12)


# --------------------------------------------------------------- lift/gains
def test_lift_gains_matches_bruteforce(spark):
    from mimic_iv_data_pipeline_spark.operators.aggregates import lift_gains

    rows, df = _roc_fixture(spark)
    out = {r["bucket"]: r for r in
           lift_gains(df, "score", "y", tie_break="rid", n_buckets=10).collect()}
    ranked = sorted(rows, key=lambda r: (-r[1], r[0]))
    n = len(ranked)
    total_pos = sum(r[2] for r in ranked)
    cum_rows = cum_pos = 0
    for bkt in range(1, 11):
        members = [r for i, r in enumerate(ranked) if 1 + (i * 10) // n == bkt]
        cum_rows += len(members)
        cum_pos += sum(r[2] for r in members)
        g = out[bkt]
        assert (g["n_rows"], g["n_pos"]) == (len(members), sum(r[2] for r in members))
        assert (g["cum_rows"], g["cum_pos"]) == (cum_rows, cum_pos)
        assert g["gain"] == pytest.approx(cum_pos / total_pos)
        assert g["lift"] == pytest.approx((cum_pos / total_pos) / (cum_rows / n))
    assert out[10]["gain"] == pytest.approx(1.0)   # last decile captures all
