"""Round-5 fifth-wave operator tests: grouped linear regression,
seasonal z-score anomalies, autocorrelation, Poisson bootstrap CI."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F


# ----------------------------------------------------------- grouped linreg
def _linreg_fixture():
    rows = []
    for g in range(3):
        for i in range(60):
            x = (i * 5 + g) % 24
            y = 300 * x + 1000 * g + ((i * 37) % 500) - 250   # noisy line
            rows.append((f"g{g}", x, y))
    rows += [("flat", 7, v) for v in (100, 200, 300)]          # var(x)=0 group
    rows += [("consty", i, 42) for i in range(5)]              # var(y)=0 group
    return rows


def test_grouped_linreg_matches_bruteforce(spark):
    from mimic_iv_data_pipeline_spark.operators.aggregates import grouped_linreg

    rows = _linreg_fixture()
    df = spark.createDataFrame(rows, "g string, x long, y long")
    got = {r["g"]: r for r in grouped_linreg(df, "g", "x", "y").collect()}
    for g in ["g0", "g1", "g2", "consty"]:
        pts = [(x, y) for gg, x, y in rows if gg == g]
        n = len(pts)
        sx = sum(p[0] for p in pts)
        sy = sum(p[1] for p in pts)
        sxx = sum(p[0] ** 2 for p in pts)
        syy = sum(p[1] ** 2 for p in pts)
        sxy = sum(p[0] * p[1] for p in pts)
        vx, vy, cov = n * sxx - sx * sx, n * syy - sy * sy, n * sxy - sx * sy
        r = got[g]
        assert r["n"] == n
        assert r["slope"] == pytest.approx(cov / vx)
        assert r["intercept"] == pytest.approx((sy - (cov / vx) * sx) / n)
        if vy == 0:
            assert r["r2"] is None
        else:
            assert r["r2"] == pytest.approx(cov * cov / (vx * vy))
    flat = got["flat"]
    assert (flat["slope"], flat["intercept"], flat["r2"]) == (None, None, None)


def test_grouped_linreg_recovers_exact_line(spark):
    df = spark.createDataFrame(
        [("a", x, 7 * x + 11) for x in range(20)], "g string, x long, y long"
    )
    from mimic_iv_data_pipeline_spark.operators.aggregates import grouped_linreg

    r = grouped_linreg(df, "g", "x", "y").first()
    assert r["slope"] == pytest.approx(7.0)
    assert r["intercept"] == pytest.approx(11.0)
    assert r["r2"] == pytest.approx(1.0)


# -------------------------------------------------------- seasonal z-score
def test_seasonal_zscore_matches_bruteforce(spark):
    from mimic_iv_data_pipeline_spark.operators.aggregates import seasonal_zscore

    rows = [(i, "c%d" % (i % 4), ((i * 13) % 40) + (5000 if i == 77 else 0))
            for i in range(200)]
    df = spark.createDataFrame(rows, "rid long, cell string, y long")
    got = {r["rid"]: r["z"] for r in
           seasonal_zscore(df, "cell", "y", threshold=3.0).collect()}
    expected = {}
    for cell in {r[1] for r in rows}:
        ys = [r[2] for r in rows if r[1] == cell]
        n = len(ys)
        mean = sum(ys) / n
        var = (n * sum(y * y for y in ys) - sum(ys) ** 2) / (n * (n - 1))
        std = math.sqrt(var) if var > 0 else None
        for rid, c, y in rows:
            if c == cell and std:
                z = (y - mean) / std
                if abs(z) >= 3.0:
                    expected[rid] = z
    assert set(got) == set(expected) and 77 in got
    for rid, z in expected.items():
        assert got[rid] == pytest.approx(z)


def test_seasonal_zscore_degenerate_cells_silent(spark):
    from mimic_iv_data_pipeline_spark.operators.aggregates import seasonal_zscore

    df = spark.createDataFrame(
        [(1, "lone", 99), (2, "const", 5), (3, "const", 5)],
        "rid long, cell string, y long",
    )
    assert seasonal_zscore(df, "cell", "y").count() == 0


# -------------------------------------------------------------------- ACF
def test_acf_matches_bruteforce(spark):
    from mimic_iv_data_pipeline_spark.operators.aggregates import acf

    series = {"a": [(t, (t * 17) % 29) for t in range(30)],
              "b": [(t, (t * 7) % 11) for t in range(10)],
              "short": [(t, t) for t in range(3)],
              "const": [(t, 4) for t in range(12)]}
    rows = [(k, t, v) for k, pts in series.items() for t, v in pts]
    df = spark.createDataFrame(rows, "k string, t long, y long")
    got = {(r["k"], r["lag"]): r for r in acf(df, "k", "t", "y", max_lag=5).collect()}
    for k, pts in series.items():
        vals = [v for _, v in sorted(pts)]
        for lag in range(1, 6):
            pairs = [(vals[i - lag], vals[i]) for i in range(lag, len(vals))]
            if not pairs:
                assert (k, lag) not in got
                continue
            r = got[(k, lag)]
            assert r["n_pairs"] == len(pairs)
            n = len(pairs)
            sx = sum(p[0] for p in pairs)
            sy = sum(p[1] for p in pairs)
            vx = n * sum(p[0] ** 2 for p in pairs) - sx * sx
            vy = n * sum(p[1] ** 2 for p in pairs) - sy * sy
            cov = n * sum(p[0] * p[1] for p in pairs) - sx * sy
            if vx > 0 and vy > 0:
                assert r["r"] == pytest.approx(cov / math.sqrt(vx * vy))
            else:
                assert r["r"] is None


def test_acf_lag1_of_linear_series_is_one(spark):
    from mimic_iv_data_pipeline_spark.operators.aggregates import acf

    df = spark.createDataFrame(
        [("a", t, 3 * t) for t in range(50)], "k string, t long, y long"
    )
    out = {r["lag"]: r["r"] for r in acf(df, "k", "t", "y", max_lag=3).collect()}
    for lag in (1, 2, 3):
        assert out[lag] == pytest.approx(1.0)


# -------------------------------------------------------- Poisson bootstrap
def _py_poisson_count(u: float) -> int:
    from mimic_iv_data_pipeline_spark.operators.sampling import _POISSON1_CDF

    for k, c in enumerate(_POISSON1_CDF):
        if u < c:
            return k
    return 8


def _py_u01(salt: str, key: str) -> float:
    h = hashlib.md5(f"{salt}:{key}".encode()).hexdigest()[:8]
    return int(h, 16) / 4294967296.0


def test_poisson_bootstrap_matches_python_recomputation(spark):
    from mimic_iv_data_pipeline_spark.operators.sampling import poisson_bootstrap_ci

    rows = [(i, "g%d" % (i % 2), (i * 13) % 100 + 50) for i in range(120)]
    df = spark.createDataFrame(rows, "rid long, g string, y long")
    B = 24
    got = {r["g"]: r for r in
           poisson_bootstrap_ci(df, "g", "y", "rid", n_replicates=B,
                                alpha=0.25, salt="s").collect()}
    for g in ("g0", "g1"):
        members = [(rid, y) for rid, gg, y in rows if gg == g]
        means = []
        for b in range(B):
            ws = [(_py_poisson_count(_py_u01("s", f"{rid}:{b}")), y)
                  for rid, y in members]
            sw = sum(w for w, _ in ws)
            if sw > 0:
                means.append((sum(w * y for w, y in ws) / sw, b))
        means.sort()
        lo_rank = int(0.25 / 2 * B) + 1
        hi_rank = B - (lo_rank - 1)
        r = got[g]
        assert r["n"] == len(members)
        assert r["mean"] == pytest.approx(sum(y for _, y in members) / len(members))
        assert r["ci_lo"] == pytest.approx(means[lo_rank - 1][0])
        assert r["ci_hi"] == pytest.approx(means[hi_rank - 1][0])
        assert r["ci_lo"] <= r["ci_hi"]


def test_poisson_bootstrap_deterministic_under_repartition(spark):
    from mimic_iv_data_pipeline_spark.operators.sampling import poisson_bootstrap_ci

    df = spark.createDataFrame(
        [(i, "g", (i * 7) % 50) for i in range(80)], "rid long, g string, y long"
    )
    a = poisson_bootstrap_ci(df, "g", "y", "rid", n_replicates=16).first()
    b = poisson_bootstrap_ci(
        df.repartition(13), "g", "y", "rid", n_replicates=16
    ).first()
    assert (a["ci_lo"], a["ci_hi"], a["mean"]) == (b["ci_lo"], b["ci_hi"], b["mean"])


def test_poisson_counts_have_unit_meanish():
    """Sanity: over many md5-derived draws the Poisson(1) bucketing
    averages ~1 with variance ~1 (distribution-shape check on the
    fixed inverse-CDF thresholds)."""
    counts = [_py_poisson_count(_py_u01("shape", str(i))) for i in range(20000)]
    mean = sum(counts) / len(counts)
    var = sum((c - mean) ** 2 for c in counts) / len(counts)
    assert mean == pytest.approx(1.0, abs=0.03)
    assert var == pytest.approx(1.0, abs=0.06)


def test_lift_gains_buckets_exact_at_scale(spark):
    """With strict total order, the floor decile rule forces bucket
    sizes of exactly n/10 — the end-to-end symptom check for the same
    layout-drift regression."""
    from mimic_iv_data_pipeline_spark.operators.aggregates import lift_gains

    df = spark.range(2_000_000).select(
        F.col("id").alias("rid"),
        (F.pmod(F.xxhash64("id"), F.lit(100_000)) / 1e3).alias("score"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(5)) == 0).cast("long").alias("y"),
    )
    out = lift_gains(df, "score", "y", tie_break="rid").collect()
    assert sorted(r["bucket"] for r in out) == list(range(1, 11))
    assert all(r["n_rows"] == 200_000 for r in out)


def test_pareto_front_value_bucketed_exact_at_scale(spark):
    """Regression (r6 advice): pareto_front_2d previously used
    repartitionByRange + spark_partition_id with offsets collected in
    a SEPARATE action — the same layout-drift class fixed in
    global_prefix_sums (range-partitioner bounds resample per action,
    so the totals pass and the facts pass could disagree on row
    placement, silently keeping dominated rows or dropping true
    skyline rows). Now value-bucketed: verify the skyline of 2M rows
    over 50k distinct qualities exactly matches a driver-side
    recompute from the per-quality min costs."""
    from mimic_iv_data_pipeline_spark.operators.sampling import pareto_front_2d

    df = spark.range(2_000_000).select(
        F.col("id").alias("rid"),
        F.pmod(F.xxhash64("id"), F.lit(50_000)).alias("q"),
        (F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1_000_000)).cast("double"))
        .alias("c"),
    )
    got = {
        (r["q"], r["c"])
        for r in pareto_front_2d(df, "q", "c").select("q", "c").distinct().collect()
    }
    firsts = {
        r["q"]: r["mc"]
        for r in df.groupBy("q").agg(F.min("c").alias("mc")).collect()
    }
    want, best = set(), None
    for q in sorted(firsts, reverse=True):
        c = firsts[q]
        if best is None or c < best:
            want.add((q, c))
            best = c if best is None else min(best, c)
    assert got == want and len(want) >= 3
