"""Round-11 brute-force verification wave.

r9 re-verified seven statistics against textbook brute force (Welch t,
Kaplan-Meier, isotonic, Mann-Whitney, ANOVA, log-rank, CUPED); this
wave covers the next tier — every operator here is compared against an
INDEPENDENT pure-python/numpy implementation of the published formula
on a seeded random fixture, exactly (mirroring the operator's
documented rounding/quantization), not approximately.

Covered: ece_mce, fit_temperature, bh_fdr, epi_2x2, woe_iv,
naive_bayes_scores, holt_linear.
"""

from __future__ import annotations

import math

import numpy as np
import pytest


def _floor_round(x: float, scale: int = 6) -> float:
    # the repo's dround: floor(x * 10^s + 0.5) / 10^s
    f = float(10**scale)
    return math.floor(x * f + 0.5) / f


# ---------------------------------------------------------------- ece_mce


def test_ece_mce_matches_numpy(spark):
    from mimic_iv_data_pipeline_spark.operators.aggregates import ece_mce

    rng = np.random.default_rng(11)
    p = rng.uniform(0, 1, 500)
    # include the documented edge: pred exactly 1.0 clamps into top bin
    p[:3] = [0.0, 1.0, 0.9999999]
    y = (rng.uniform(0, 1, 500) < p).astype(int)  # roughly calibrated
    df = spark.createDataFrame(
        [(float(a), int(b)) for a, b in zip(p, y)], "p double, y int"
    )
    got = ece_mce(df, "p", "y", num_bins=10).collect()[0]

    bins = np.clip(np.floor(p * 10).astype(int), 0, 9)
    terms = []
    for b in range(10):
        m = bins == b
        if not m.any():
            continue
        acc, conf = y[m].mean(), p[m].mean()
        terms.append((m.sum(), abs(acc - conf)))
    ece = sum(n * d for n, d in terms) / sum(n for n, _ in terms)
    mce = max(d for _, d in terms)
    assert got["ece"] == _floor_round(ece)
    assert got["mce"] == _floor_round(mce)


# ---------------------------------------------------------- fit_temperature


def test_fit_temperature_matches_numpy_grid(spark):
    from mimic_iv_data_pipeline_spark.operators.aggregates import fit_temperature

    rng = np.random.default_rng(12)
    # overconfident logits: true p from z/2, emitted logit z -> best T ~ 2
    z = rng.normal(0, 4, 400)
    y = (rng.uniform(0, 1, 400) < 1 / (1 + np.exp(-z / 2))).astype(int)
    df = spark.createDataFrame(
        [(float(a), int(b)) for a, b in zip(z, y)], "z double, y int"
    )
    got = fit_temperature(df, "z", "y").collect()[0]

    eps = 1e-15
    best = None
    for t in [0.5 + 0.25 * i for i in range(11)]:
        p = 1 / (1 + np.exp(-z / t))
        p = np.clip(p, eps, 1 - eps)
        nll = _floor_round(float(np.mean(-(y * np.log(p) + (1 - y) * np.log(1 - p)))))
        if best is None or (nll, t) < best:
            best = (nll, t)
    assert got["T"] == _floor_round(best[1])
    assert got["nll"] == best[0]
    assert abs(got["T"] - 2.0) <= 0.5  # sanity: recovers the planted scale


# ---------------------------------------------------------------- bh_fdr


def test_bh_fdr_matches_reference_stepup(spark):
    from mimic_iv_data_pipeline_spark.operators.aggregates import bh_fdr

    rng = np.random.default_rng(13)
    # mixture: 30 real effects (tiny p), 70 nulls (uniform), plus ties
    ps = np.concatenate(
        [rng.uniform(0, 0.002, 30), rng.uniform(0, 1, 70), [0.5, 0.5, 0.5]]
    )
    rows = [(f"h{i:03d}", float(p)) for i, p in enumerate(ps)]
    df = spark.createDataFrame(rows, "id string, p double")
    got = {r["id"]: r for r in bh_fdr(df, "id", "p", alpha=0.05).collect()}

    order = sorted(rows, key=lambda r: (r[1], r[0]))
    m = len(order)
    raw = [p * m / (i + 1) for i, (_, p) in enumerate(order)]
    q = raw[:]
    for i in range(m - 2, -1, -1):  # reverse running min (step-up)
        q[i] = min(q[i], q[i + 1])
    q = [min(1.0, v) for v in q]
    for i, (hid, p) in enumerate(order):
        g = got[hid]
        assert g["rank"] == i + 1 and g["m"] == m
        assert g["q_value"] == pytest.approx(q[i], abs=1e-12)
        assert bool(g["reject"]) == (q[i] <= 0.05)
    # the classic rule agrees: reject set == largest k with p_(k) <= k*alpha/m
    ks = [i + 1 for i, (_, p) in enumerate(order) if p <= (i + 1) * 0.05 / m]
    k_star = max(ks) if ks else 0
    assert sum(1 for r in got.values() if r["reject"]) == k_star


# ---------------------------------------------------------------- epi_2x2


def test_epi_2x2_matches_hand_formulas(spark):
    from mimic_iv_data_pipeline_spark.operators.aggregates import epi_2x2

    rng = np.random.default_rng(14)
    e = rng.integers(0, 2, 800)
    o = ((rng.uniform(0, 1, 800) < 0.15 + 0.2 * e)).astype(int)  # RR ~ 2.3
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(e, o)], "e int, o int"
    )
    g = epi_2x2(df, "e", "o").collect()[0]

    a = int(((e == 1) & (o == 1)).sum())
    b = int(((e == 1) & (o == 0)).sum())
    c = int(((e == 0) & (o == 1)).sum())
    d = int(((e == 0) & (o == 0)).sum())
    assert (g["a"], g["b"], g["c"], g["d"]) == (a, b, c, d)
    r1, r0 = a / (a + b), c / (c + d)
    z = 1.959963984540054
    se_rr = math.sqrt(1 / a - 1 / (a + b) + 1 / c - 1 / (c + d))
    se_or = math.sqrt(1 / a + 1 / b + 1 / c + 1 / d)
    orr = (a * d) / (b * c)
    assert g["rr"] == pytest.approx(r1 / r0, rel=1e-12)
    assert g["rr_lo"] == pytest.approx(math.exp(math.log(r1 / r0) - z * se_rr), rel=1e-12)
    assert g["rr_hi"] == pytest.approx(math.exp(math.log(r1 / r0) + z * se_rr), rel=1e-12)
    assert g["or_"] == pytest.approx(orr, rel=1e-12)
    assert g["or_lo"] == pytest.approx(math.exp(math.log(orr) - z * se_or), rel=1e-12)
    assert g["or_hi"] == pytest.approx(math.exp(math.log(orr) + z * se_or), rel=1e-12)
    assert g["rd"] == pytest.approx(r1 - r0, rel=1e-12)


def test_epi_2x2_zero_cell_nulls_not_inf(spark):
    from mimic_iv_data_pipeline_spark.operators.aggregates import epi_2x2

    # b = 0 (every exposed has the outcome): OR undefined -> NULL
    rows = [(1, 1)] * 5 + [(0, 1)] * 3 + [(0, 0)] * 7
    df = spark.createDataFrame(rows, "e int, o int")
    g = epi_2x2(df, "e", "o").collect()[0]
    assert g["or_"] is None and g["or_lo"] is None and g["or_hi"] is None
    assert g["rr"] is not None  # a, c > 0: RR still defined


# ---------------------------------------------------------------- woe_iv


def test_woe_iv_matches_scorecard_formulas(spark):
    from mimic_iv_data_pipeline_spark.operators.mlprep import woe_iv

    rng = np.random.default_rng(15)
    cats = rng.choice(["a", "b", "c", "d"], 600, p=[0.4, 0.3, 0.2, 0.1])
    base = {"a": 0.1, "b": 0.3, "c": 0.6, "d": 0.0}  # d: single-class category
    y = np.array([rng.uniform() < base[c] for c in cats]).astype(int)
    df = spark.createDataFrame(
        [(str(c), int(l)) for c, l in zip(cats, y)], "cat string, y int"
    )
    got = {r["cat"]: r for r in woe_iv(df, "cat", "y", smoothing=0.5).collect()}

    pos_t, neg_t = int(y.sum()), int((1 - y).sum())
    for c in "abcd":
        np_, nn = int(y[cats == c].sum()), int((1 - y)[cats == c].sum())
        ps = (np_ + 0.5) / (pos_t + 1.0)
        ns = (nn + 0.5) / (neg_t + 1.0)
        woe = math.log(ps / ns)
        g = got[c]
        assert (g["n_pos"], g["n_neg"]) == (np_, nn)
        assert g["woe"] == pytest.approx(woe, rel=1e-12)
        assert g["iv_term"] == pytest.approx((ps - ns) * woe, rel=1e-12)
    assert math.isfinite(got["d"]["woe"])  # smoothing keeps single-class finite


# ------------------------------------------------------- naive_bayes_scores


def test_naive_bayes_matches_micro_nat_reference(spark):
    from mimic_iv_data_pipeline_spark.operators.text import naive_bayes_scores

    rng = np.random.default_rng(16)
    langs = {
        "en": ["the", "cat", "sat", "mat", "dog", "house"],
        "fr": ["le", "chat", "sur", "tapis", "chien", "maison"],
        "mix": ["the", "le", "data", "cat", "chat", "table"],
    }
    rows = []
    for i in range(120):
        lab = ["en", "fr", "mix"][i % 3]
        words = list(rng.choice(langs[lab], size=rng.integers(3, 9)))
        rows.append((i, " ".join(words), lab))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r["doc_id"]: (r["pred_label"], r["score_micro"])
        for r in naive_bayes_scores(df).collect()
    }

    # independent reference with the SAME integer micro-nat quantization
    alpha = 1.0
    toks = {i: t.split() for i, t, _ in rows}
    classes = sorted({l for _, _, l in rows})
    wc: dict[tuple[str, str], int] = {}
    nc: dict[str, int] = {c: 0 for c in classes}
    dc: dict[str, int] = {c: 0 for c in classes}
    vocab = set()
    for i, _, lab in rows:
        dc[lab] += 1
        for w in toks[i]:
            wc[(w, lab)] = wc.get((w, lab), 0) + 1
            nc[lab] += 1
            vocab.add(w)
    V, nd = len(vocab), len(rows)

    def lp_micro(cnt: int, c: str) -> int:
        return math.floor(
            math.log((cnt + alpha) / (nc[c] + alpha * V)) * 1e6 + 0.5
        )

    for i, _, _ in rows:
        best_s, win = None, None
        for c in classes:  # ascending label order: strict > keeps the
            prior = math.floor(math.log(dc[c] / nd) * 1e6 + 0.5)  # smaller
            s = prior + sum(lp_micro(wc.get((w, c), 0), c) for w in toks[i])
            if best_s is None or s > best_s:  # label on score ties
                best_s, win = s, (c, s)
        assert got[i] == win, f"doc {i}: {got[i]} != {win}"


# ------------------------------------------------------------- holt_linear


def test_holt_linear_matches_sequential_reference(spark):
    from mimic_iv_data_pipeline_spark.operators.windows import holt_linear

    rng = np.random.default_rng(17)
    rows = []
    series = {}
    for k in ("k1", "k2"):
        x = np.cumsum(rng.normal(0.5, 1.0, 40)) + 10  # drifting series
        series[k] = x
        rows += [(k, int(t), float(v)) for t, v in enumerate(x)]
    df = spark.createDataFrame(rows, "k string, ts int, v double")
    out = holt_linear(df, "k", "ts", "v", alpha=0.5, beta=0.25)
    got = {
        (r["k"], r["ts"]): (r["level"], r["trend"], r["forecast"])
        for r in out.collect()
    }

    for k, x in series.items():
        l, b = float(x[0]), 0.0
        assert got[(k, 0)] == (l, b, l + b)
        for t in range(1, len(x)):
            l_prev = l
            l = 0.5 * float(x[t]) + 0.5 * (l + b)
            b = 0.25 * (l - l_prev) + 0.75 * b
            assert got[(k, t)] == (l, b, l + b), f"{k} t={t}"


# ---------------------------------------------------------------------------
# second wave: chi-square independence, grouped linreg, seasonal z,
# ACF, concentration metrics, Benford — same exact-reference discipline
# ---------------------------------------------------------------------------


def test_chi_square_independence_matches_numpy(spark):
    from mimic_iv_data_pipeline_spark.operators.aggregates import (
        chi_square_independence,
    )

    rng = np.random.default_rng(21)
    # dependent categoricals with an EMPTY observed cell (x=2,y=0 never
    # sampled below) — zero cells must still contribute e_xy
    xs = rng.integers(0, 3, 900)
    ys = np.where(
        xs == 2, rng.integers(1, 3, 900), rng.integers(0, 3, 900)
    )
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(xs, ys)], "x int, y int"
    )
    g = chi_square_independence(df, "x", "y").collect()[0]

    xv, yv = sorted(set(xs.tolist())), sorted(set(ys.tolist()))
    n = len(xs)
    chi2 = 0.0
    for a in xv:
        for b in yv:
            o = int(((xs == a) & (ys == b)).sum())
            e = ((xs == a).sum() * (ys == b).sum()) / n
            chi2 += (o - e) ** 2 / e
    assert g["n"] == n
    assert g["dof"] == (len(xv) - 1) * (len(yv) - 1)
    assert g["chi2"] == pytest.approx(chi2, rel=1e-12)
    assert g["cramers_v"] == pytest.approx(
        math.sqrt(chi2 / (n * min(len(xv) - 1, len(yv) - 1))), rel=1e-12
    )


def test_grouped_linreg_matches_exact_closed_form(spark):
    from mimic_iv_data_pipeline_spark.operators.aggregates import grouped_linreg

    rng = np.random.default_rng(22)
    rows = []
    for grp, (m, c) in {"a": (3, 7), "b": (-2, 100)}.items():
        for _ in range(50):
            x = int(rng.integers(-1000, 1000))
            yv = m * x + c + int(rng.integers(-20, 21))
            rows.append((grp, x, yv))
    rows += [("flat", 5, v) for v in (1, 2, 3)]  # var(x)=0 -> NULLs
    rows += [("consty", v, 9) for v in (1, 2, 3)]  # var(y)=0 -> r2 NULL
    df = spark.createDataFrame(rows, "g string, x long, y long")
    got = {r["g"]: r for r in grouped_linreg(df, "g", "x", "y").collect()}

    for grp in ("a", "b", "consty"):
        pts = [(x, yv) for g2, x, yv in rows if g2 == grp]
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(yv for _, yv in pts)
        sxx = sum(x * x for x, _ in pts)
        syy = sum(yv * yv for _, yv in pts)
        sxy = sum(x * yv for x, yv in pts)
        vx, vy, cov = n * sxx - sx * sx, n * syy - sy * sy, n * sxy - sx * sy
        g2 = got[grp]
        assert g2["slope"] == pytest.approx(cov / vx, rel=1e-12)
        assert g2["intercept"] == pytest.approx(
            (sy - (cov / vx) * sx) / n, rel=1e-12
        )
        if vy == 0:
            assert g2["r2"] is None
        else:
            assert g2["r2"] == pytest.approx(cov * cov / (vx * vy), rel=1e-12)
    assert got["flat"]["slope"] is None and got["flat"]["r2"] is None


def test_seasonal_zscore_matches_cell_reference(spark):
    from mimic_iv_data_pipeline_spark.operators.aggregates import seasonal_zscore

    rng = np.random.default_rng(23)
    rows = []
    for cell in range(4):
        base = 100 * (cell + 1)
        vals = list(rng.integers(base - 10, base + 11, 60))
        vals[0] = base + 500  # planted anomaly per cell
        rows += [(cell, int(v)) for v in vals]
    rows += [(9, 5)]  # n=1 cell: no std, never flagged
    df = spark.createDataFrame(rows, "cell int, v long")
    got = {(r["cell"], r["v"]): r["z"] for r in
           seasonal_zscore(df, "cell", "v", threshold=3.0).collect()}

    expect = {}
    for cell in range(4):
        vs = [v for c, v in rows if c == cell]
        n = len(vs)
        mean = sum(vs) / n
        var = (n * sum(v * v for v in vs) - sum(vs) ** 2) / (n * (n - 1))
        std = math.sqrt(var)
        for v in set(vs):
            z = (v - mean) / std
            if abs(z) >= 3.0:
                expect[(cell, v)] = z
    assert set(got) == set(expect)
    for k in expect:
        assert got[k] == pytest.approx(expect[k], rel=1e-12)


def test_acf_matches_pearson_on_positional_lags(spark):
    from mimic_iv_data_pipeline_spark.operators.aggregates import acf

    rng = np.random.default_rng(24)
    x = (np.round(100 * np.sin(np.arange(80) * 0.5)) + rng.integers(-5, 6, 80)).astype(
        int
    )
    rows = [("s", int(t), int(v)) for t, v in enumerate(x)]
    df = spark.createDataFrame(rows, "k string, ts int, v long")
    got = {r["lag"]: r for r in acf(df, "k", "ts", "v", max_lag=5).collect()}

    for lag in range(1, 6):
        xs, ys = x[:-lag].tolist(), x[lag:].tolist()
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        vx = n * sum(a * a for a in xs) - sx * sx
        vy = n * sum(b * b for b in ys) - sy * sy
        cov = n * sum(a * b for a, b in zip(xs, ys)) - sx * sy
        g = got[lag]
        assert g["n_pairs"] == n
        assert g["r"] == pytest.approx(cov / math.sqrt(vx * vy), rel=1e-12)


def test_concentration_metrics_matches_lorenz_reference(spark):
    from mimic_iv_data_pipeline_spark.operators.aggregates import (
        concentration_metrics,
    )

    rng = np.random.default_rng(25)
    # pareto-ish totals over 40 keys, multiple rows per key, ties planted
    rows = []
    totals = {}
    for i in range(40):
        k = f"k{i:02d}"
        t = int(np.floor(1000 / (i + 1))) if i < 38 else 7  # two tied at 7
        totals[k] = t
        a = int(rng.integers(0, t + 1))
        rows += [(k, a), (k, t - a)]
    df = spark.createDataFrame(rows, "k string, v long")
    g = concentration_metrics(df, "k", "v").collect()[0]

    per = sorted(totals.items(), key=lambda kv: (kv[1], kv[0]))  # v asc, k asc
    n, tot = len(per), sum(totals.values())
    iv = sum((i + 1) * v for i, (_, v) in enumerate(per))
    gini = (2 * iv) / (n * tot) - (n + 1) / n
    hhi_pico = sum(
        math.floor((v / tot) ** 2 * 1e12 + 0.5) for v in totals.values()
    )
    top_k = math.ceil(n / 10)
    by_desc = sorted(totals.items(), key=lambda kv: (-kv[1], kv[0]))
    top = sum(v for _, v in by_desc[:top_k])
    assert (g["n_keys"], g["total"]) == (n, tot)
    assert g["gini"] == pytest.approx(gini, rel=1e-12)
    assert g["hhi"] == hhi_pico / 1e12
    assert g["top_decile_share"] == pytest.approx(top / tot, rel=1e-12)


def test_benford_digit_test_matches_reference(spark):
    from mimic_iv_data_pipeline_spark.operators.profiling import benford_digit_test

    rng = np.random.default_rng(26)
    # organic multi-scale magnitudes (log-uniform -> near-Benford) plus
    # excluded rows (negative, zero, NULL)
    vals = np.exp(rng.uniform(0, 12, 700))
    rows = [(float(v),) for v in vals] + [(-5.0,), (0.0,), (None,)]
    df = spark.createDataFrame(rows, "v double")
    out = benford_digit_test(df, "v").collect()
    got = {r["digit"]: r for r in out}

    digits = [int(str(v).lstrip("0.").lstrip("0")[0]) for v in vals]
    n = len(digits)
    terms_micro = 0
    for d in range(1, 10):
        nd = digits.count(d)
        obs, exp = nd / n, math.log10(1 + 1 / d)
        if nd:
            g = got[d]
            assert g["n_digit"] == nd and g["n"] == n
            assert g["observed"] == pytest.approx(obs, rel=1e-12)
            assert g["expected"] == pytest.approx(exp, rel=1e-12)
        terms_micro += math.floor((obs - exp) ** 2 / exp * 1e9 + 0.5)
    chi2 = n * (terms_micro / 1e9)
    for r in out:
        assert r["chi2"] == pytest.approx(chi2, rel=1e-12)
