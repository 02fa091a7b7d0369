"""Aggregation operators (SURVEY.md §2.4).

Each replaces an imperative per-group python loop in the reference with
a partial-aggregatable Spark plan (map-side combine comes free from
Catalyst's two-phase hash aggregate).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.functions.rounding import dround
from pyspark.sql.window import Window

from mimic_iv_data_pipeline_spark.engine import materialize


def _cols(x: str | list[str]) -> list[str]:
    return [x] if isinstance(x, str) else list(x)


def mode_per_group(
    df: DataFrame,
    group_by: str | list[str],
    value_col: str,
    share_col: str = "share",
) -> DataFrame:
    """A7: modal value per group with its share.

    Reference: ``drop_wrong_uom`` (``utils/uom_conversion.py:11-28``)
    loops itemids and keeps rows whose unit equals the majority unit when
    its share exceeds a cutoff. Here: count per (group, value) →
    ``row_number`` by (count desc, value asc — deterministic tie-break)
    → share = top count / group total. Two hash aggregates + one window,
    all partitioned by the group key (single shuffle chain).

    Returns one row per group: group cols, ``value_col`` (the mode),
    ``share_col`` (fraction in [0,1]).
    """
    groups = _cols(group_by)
    counts = df.groupBy(*groups, value_col).agg(F.count(F.lit(1)).alias("__cnt"))
    w = Window.partitionBy(*groups).orderBy(F.col("__cnt").desc(), F.col(value_col).asc())
    wt = Window.partitionBy(*groups)
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .withColumn("__total", F.sum("__cnt").over(wt))
        .filter(F.col("__rn") == 1)
        .withColumn(share_col, F.col("__cnt") / F.col("__total"))
        .drop("__cnt", "__rn", "__total")
    )


def filter_majority_unit(
    df: DataFrame,
    group_col: str,
    unit_col: str,
    cutoff: float = 0.95,
) -> DataFrame:
    """A7 applied: keep rows whose unit is the group's majority unit, for
    groups whose majority share exceeds ``cutoff``; groups below the
    cutoff are kept untouched (exact ``drop_wrong_uom`` semantics,
    ``utils/uom_conversion.py:14-25``).

    NULL units: the mode is elected over NON-NULL units only (pandas
    ``value_counts`` drops NaN, so the reference can never elect NULL
    — and electing NULL here would NULL the ``==`` for every row and
    silently delete the whole group). When a real majority filters a
    group, its NULL-unit rows drop with the other minority units; a
    group with no non-null units at all passes through untouched.
    """
    modes = mode_per_group(
        df.filter(F.col(unit_col).isNotNull()), group_col, unit_col
    ).withColumnRenamed(unit_col, "__mode_unit")
    return (
        df.join(F.broadcast(modes), on=group_col, how="left")
        .filter(
            F.col("share").isNull()  # all-NULL-unit group: no election
            | (F.col("share") <= cutoff)
            | (F.col(unit_col) == F.col("__mode_unit"))
        )
        .drop("__mode_unit", "share")
    )


def clamp_outliers(
    df: DataFrame,
    group_by: str | list[str],
    value_col: str,
    lower_pct: float = 0.05,
    upper_pct: float = 0.95,
    mode: str = "clamp",
) -> DataFrame:
    """A8: per-group percentile outlier handling.

    Reference: ``outlier_removal.py:11-37`` computes ``np.percentile``
    per itemid in a loop and either clamps (impute_outlier) or drops.
    Here: one grouped percentile aggregate, broadcast back, ``when``
    clamp. The sort-based exact ``percentile`` (linear interpolation)
    matches numpy/DuckDB ``quantile_cont``; an approximate sketch would
    break parity with the reference.
    """
    groups = _cols(group_by)
    bounds = df.groupBy(*groups).agg(
        F.expr(f"percentile({value_col}, {lower_pct})").alias("__lo"),
        F.expr(f"percentile({value_col}, {upper_pct})").alias("__hi"),
    )
    out = df.join(F.broadcast(bounds), on=groups, how="left")
    if mode == "clamp":
        clamped = F.when(F.col(value_col) < F.col("__lo"), F.col("__lo")).when(
            F.col(value_col) > F.col("__hi"), F.col("__hi")
        ).otherwise(F.col(value_col))
        return out.withColumn(value_col, clamped).drop("__lo", "__hi")
    if mode == "drop":
        return out.filter(
            F.col(value_col).between(F.col("__lo"), F.col("__hi"))
        ).drop("__lo", "__hi")
    raise ValueError(f"unknown outlier mode: {mode}")


def majority_unit_clamp(
    df: DataFrame,
    group_col: str,
    unit_col: str,
    value_col: str,
    cutoff: float = 0.95,
    lower_pct: float = 0.02,
    upper_pct: float = 0.98,
    mode: str = "clamp",
) -> DataFrame:
    """Fused A7+A8: ``filter_majority_unit`` followed by
    ``clamp_outliers`` in ONE aggregate pass over the input, so fewer
    bytes are scanned and shuffled.

    The sequential pair scans the (typically join-heavy) event relation
    three times: mode election, post-filter percentile bounds, and the
    final probe. But the majority filter is a GROUP-LEVEL dichotomy:
    each group either keeps ALL its rows (no election or share ≤
    cutoff) or keeps exactly its (group, mode-unit) rows — so the
    "percentiles of the filtered relation" are derivable from one
    GROUPING SETS ((group, unit), (group)) aggregate computing counts
    and exact percentiles for both granularities, and the whole
    operator becomes two scans: the fused aggregate and the final
    filter+clamp probe.

    Value-identity argument (pinned by tests/test_clean_fused.py):
    when share > cutoff the filtered multiset is exactly the (group,
    mode-unit) rows (NULL units fail ``==``), i.e. that grouping-set
    cell; otherwise the filtered multiset is the whole group including
    NULL-unit rows, i.e. the (group) cell. ``percentile`` sorts its
    buffer, so equal multisets give bit-identical doubles; the share
    is the same long/long division as ``mode_per_group``. Both cells
    come out of ONE per-group aggregate over the grouping-sets result,
    its only consumer, so it runs once and only moves values it
    already computed (a second consumer would push its own filter
    below it and recompute it from another scan). The extra
    cost is the Expand duplicating aggregate input 2× — strictly
    cheaper than re-deriving the event relation per pass once the
    input is join-derived (the e2e clean stage) and neutral enough on
    raw scans that the sequential operators remain for single-stage
    callers.
    """
    if mode not in ("clamp", "drop"):
        raise ValueError(f"unknown outlier mode: {mode}")
    stats = df.groupingSets(
        [[group_col, unit_col], [group_col]], group_col, unit_col
    ).agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.count(unit_col).alias("__cnt_unit"),
        F.expr(f"percentile({value_col}, {lower_pct})").alias("__lo"),
        F.expr(f"percentile({value_col}, {upper_pct})").alias("__hi"),
        F.grouping(unit_col).alias("__gflag"),
    )
    # mode cell: count desc, unit asc — the mode_per_group tie-break
    per_group = stats.groupBy(group_col).agg(
        F.expr(
            f"min_by(struct(`{unit_col}` AS unit, __cnt AS cnt, __lo AS lo,"
            f" __hi AS hi), struct(-__cnt, `{unit_col}`))"
            f" FILTER (WHERE __gflag = 0 AND `{unit_col}` IS NOT NULL)"
        ).alias("__m"),
        F.expr(
            "max(struct(__cnt_unit AS tot, __lo AS lo, __hi AS hi))"
            " FILTER (WHERE __gflag = 1)"
        ).alias("__all"),
    )
    # share mirrors mode_per_group exactly: top count / non-null total
    # (NULL when the group never elected — all-NULL-unit groups).
    cutoff_sql = f"{float(cutoff)!r}D"
    info = per_group.selectExpr(
        f"`{group_col}`",
        "__m.unit AS __mode_unit",
        "__m.cnt / __all.tot AS __share",
        f"CASE WHEN __m.cnt / __all.tot > {cutoff_sql}"
        " THEN __m.lo ELSE __all.lo END AS __lo",
        f"CASE WHEN __m.cnt / __all.tot > {cutoff_sql}"
        " THEN __m.hi ELSE __all.hi END AS __hi",
    )
    out = df.join(F.broadcast(info), on=group_col, how="left").filter(
        F.expr(
            f"__share IS NULL OR __share <= {cutoff_sql}"
            f" OR `{unit_col}` = __mode_unit"
        )
    )
    if mode == "clamp":
        clamped = F.expr(
            f"CASE WHEN `{value_col}` < __lo THEN __lo"
            f" WHEN `{value_col}` > __hi THEN __hi"
            f" ELSE `{value_col}` END"
        )
        return out.withColumn(value_col, clamped).drop(
            "__mode_unit", "__share", "__lo", "__hi"
        )
    return out.filter(
        F.expr(f"`{value_col}` BETWEEN __lo AND __hi")
    ).drop("__mode_unit", "__share", "__lo", "__hi")


def quantile_bins(
    df: DataFrame,
    group_by: str | list[str],
    value_col: str,
    tie_break: str | list[str],
    n_bins: int = 4,
    bin_col: str = "bin",
) -> DataFrame:
    """A9: per-group quantile binning (pandas ``qcut`` in the BEHRT
    tokenizer, ``model/tokenization.py:111-119``) as ``ntile`` over a
    deterministic total order."""
    order = [F.col(value_col).asc()] + [F.col(c).asc() for c in _cols(tie_break)]
    w = Window.partitionBy(*_cols(group_by)).orderBy(*order)
    return df.withColumn(bin_col, F.ntile(n_bins).over(w))


def histogram_bins(
    df: DataFrame,
    value_col: str,
    bin_width: float,
    agg_exprs: list[Column],
    bin_col: str = "bin",
) -> DataFrame:
    """A10: fixed-width histogram binning + per-bin aggregates
    (``np.digitize`` calibration bins, ``model/evaluation.py:219-236``).
    ``floor(value / width)`` keeps the expression in codegen (no UDF,
    portable to any SQL oracle)."""
    binned = df.withColumn(bin_col, F.floor(F.col(value_col) / F.lit(bin_width)).cast("long"))
    return binned.groupBy(bin_col).agg(*agg_exprs)


def confusion_by_group(
    df: DataFrame,
    group_col: str,
    label_expr: Column,
    pred_expr: Column,
) -> DataFrame:
    """A11: per-sensitive-group confusion matrix + the FULL rate set the
    reference's fairness report emits — tp/tn/fp/fn counts plus
    tpr/tnr/fpr/fnr, predicted-positive/negative rates and accuracy
    (``model/fairness.py:32-79``, returned at ``:69-79``) — in ONE pass:
    conditional sums instead of the reference's boolean-mask scans per
    group. Zero-denominator rates are NULL, matching the reference's
    ``except ZeroDivisionError: None``."""
    y = label_expr.cast("int")
    p = pred_expr.cast("int")
    tp = F.sum(((y == 1) & (p == 1)).cast("long")).alias("tp")
    tn = F.sum(((y == 0) & (p == 0)).cast("long")).alias("tn")
    fp = F.sum(((y == 0) & (p == 1)).cast("long")).alias("fp")
    fn = F.sum(((y == 1) & (p == 0)).cast("long")).alias("fn")
    out = df.groupBy(group_col).agg(tp, tn, fp, fn)
    n = F.col("tp") + F.col("tn") + F.col("fp") + F.col("fn")

    def rate(num: Column, den: Column, name: str) -> Column:
        return dround(num / F.nullif(den, F.lit(0)), 6).alias(name)

    return out.select(
        group_col,
        "tp",
        "tn",
        "fp",
        "fn",
        rate(F.col("tp"), F.col("tp") + F.col("fn"), "tpr"),
        rate(F.col("tn"), F.col("tn") + F.col("fp"), "tnr"),
        rate(F.col("fp"), F.col("fp") + F.col("tn"), "fpr"),
        rate(F.col("fn"), F.col("fn") + F.col("tp"), "fnr"),
        rate(F.col("tp") + F.col("fp"), n, "pr"),
        rate(F.col("tn") + F.col("fn"), n, "nr"),
        rate(F.col("tp") + F.col("tn"), n, "accuracy"),
    )


def ece_mce(
    df: DataFrame,
    pred_col: str,
    label_col: str,
    num_bins: int = 10,
) -> DataFrame:
    """D8: expected / maximum calibration error
    (``model/evaluation.py:219-250``: ``calb_bins`` + ``calb_metrics``).

    Reference binning is ``np.digitize(preds, linspace(0.1, 1, 10))``,
    i.e. ``floor(pred·10)`` for pred ∈ [0, 1); a prediction of exactly
    1.0 falls past the last reference bin and is silently dropped there —
    here it clamps into the top bin (deviation documented; measure-zero
    for real probabilities). Two tiny aggregations: per-bin
    accuracy/confidence (shuffle keyed on ≤ num_bins rows), then the
    weighted-|acc−conf| reduction to one (ece, mce) row. Empty bins
    contribute 0, matching the reference's zero-initialized arrays.
    """
    pred = F.col(pred_col).cast("double")
    binned = df.select(
        # clamp BOTH ends: underflow (pred < 0) folds into bin 0 like the
        # reference's np.digitize, overflow (pred = 1.0) into the top bin
        F.greatest(
            F.lit(0).cast("long"),
            F.least(
                F.floor(pred * num_bins).cast("long"),
                F.lit(num_bins - 1).cast("long"),
            ),
        ).alias("__bin"),
        pred.alias("__p"),
        F.col(label_col).cast("double").alias("__y"),
    )
    per_bin = binned.groupBy("__bin").agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg("__y").alias("__acc"),
        F.avg("__p").alias("__conf"),
    )
    diff = F.abs(F.col("__acc") - F.col("__conf"))
    return per_bin.agg(
        dround(F.sum(F.col("__n") * diff) / F.sum("__n"), 6).alias("ece"),
        dround(F.max(diff), 6).alias("mce"),
    )


def fit_temperature(
    df: DataFrame,
    logit_col: str,
    label_col: str,
    grid: list[float] | None = None,
) -> DataFrame:
    """D8: temperature-scaling calibration (Guo et al., "On Calibration
    of Modern Neural Networks", ICML'17) as a distributed grid search.

    The reference fits T with torch LBFGS on driver-collected logits
    (``model/callibrate_output.py:29-83``). Distributed form: explode a
    literal T grid against every row (narrow — no shuffle), one hash
    aggregate computes NLL(T) for ALL temperatures in a single pass
    over the data, argmin picks T. Returns one row (T, nll). For
    continuous refinement run again with a tighter grid around the
    winner — each pass is one scan.
    """
    ts = grid or [0.5 + 0.25 * i for i in range(11)]
    exploded = df.select(
        F.col(logit_col).alias("__z"),
        F.col(label_col).cast("double").alias("__y"),
        F.explode(F.array(*[F.lit(float(t)) for t in ts])).alias("T"),
    )
    # clamp p away from {0, 1}: a saturated sigmoid (|z/T| > ~37 in
    # doubles) makes log(0) NULL, and avg() would then SKIP the row for
    # exactly the temperatures where the penalty is largest — silently
    # biasing the argmin toward wrong-way-confident temperatures. The
    # clamp bounds the per-row NLL at ~34.5 instead of dropping it.
    eps = 1e-15
    raw_p = 1.0 / (1.0 + F.exp(-F.col("__z") / F.col("T")))
    p = F.least(F.greatest(raw_p, F.lit(eps)), F.lit(1.0 - eps))
    nll = -(F.col("__y") * F.log(p) + (1.0 - F.col("__y")) * F.log(1.0 - p))
    per_t = exploded.groupBy("T").agg(dround(F.avg(nll), 6).alias("nll"))
    w = Window.orderBy(F.col("nll").asc(), F.col("T").asc())
    return (
        per_t.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(dround("T", 6).alias("T"), "nll")
    )


def rank_auc(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """A12: ROC-AUC as the Mann-Whitney probability — a fully
    distributed replacement for sklearn's ``roc_auc_score``
    (``model/evaluation.py:95-141``):

        AUC = P(score⁺ > score⁻) + ½·P(score⁺ = score⁻)
            = Σ_s [ n_pos(s)·(cum_neg_below(s) + ½·n_neg(s)) ] / (P·N)

    Identical to the average-rank formula (ties → midranks). Scale
    shape: first a hash aggregate collapses rows to DISTINCT score
    values with (n_pos, n_neg) counts — the only global-order window
    then runs over that (tiny) relation, not the raw rows. A naive
    ``rank() OVER (ORDER BY score)`` on raw rows funnels 100 TB through
    one partition; this funnels |distinct scores| rows.
    """
    per_score = df.groupBy(F.col(score_col).alias("__s")).agg(
        F.sum(F.when(F.col(label_col) == 1, 1).otherwise(0)).alias("__np"),
        F.sum(F.when(F.col(label_col) == 0, 1).otherwise(0)).alias("__nn"),
    )
    w = Window.orderBy(F.col("__s").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = per_score.withColumn(
        "__cum_nn", F.coalesce(F.sum("__nn").over(w), F.lit(0))
    )
    return cum.agg(
        dround(
            F.sum(F.col("__np") * (F.col("__cum_nn") + F.col("__nn") / 2.0))
            / (F.sum("__np") * F.sum("__nn")),
            6,
        ).alias("auc")
    )


def rollup_state(
    df: DataFrame,
    key_cols: list[str],
    measure_cols: list[str],
) -> DataFrame:
    """Initial partial-aggregate state for incremental rollup
    maintenance: per key, ``n`` (row count) plus
    ``(cnt_<m>, sum_<m>, min_<m>, max_<m>)`` for every measure — the
    mergeable decomposition of count/sum/avg/min/max. ``cnt_<m>`` is
    the NON-NULL count, kept separately from ``n`` because SQL AVG
    skips nulls: derive avg as ``sum_<m> / cnt_<m>`` (never stored —
    avg is not mergeable; never ``/ n``, which silently drifts from
    AVG the moment a measure has nulls). One map-side-combinable
    aggregate.
    """
    if not key_cols or not measure_cols:
        raise ValueError("rollup_state needs key and measure columns")
    aggs = [F.count(F.lit(1)).alias("n")]
    for m in measure_cols:
        aggs += [
            F.count(m).alias(f"cnt_{m}"),
            F.sum(m).alias(f"sum_{m}"),
            F.min(m).alias(f"min_{m}"),
            F.max(m).alias(f"max_{m}"),
        ]
    return df.groupBy(*key_cols).agg(*aggs)


def merge_rollup_state(
    prev: DataFrame,
    *,
    delta: DataFrame,
    key_cols: list[str],
    measure_cols: list[str],
) -> DataFrame:
    """Incremental materialized-rollup maintenance: merge a new batch's
    partial state into the running state — the commutative monoid merge
    (n: +, sum: +, min: min, max: max), so
    ``merge(state(A), state(B)) == state(A ∪ B)`` exactly, for any
    batch split (test-pinned; q146 differentially verifies against a
    from-scratch oracle).

    This is the nightly-rollup shape at 100 TB: each day aggregates
    ONLY its delta (|delta| rows), the merge touches |keys| state rows,
    and the raw history is never rescanned — same philosophy as the
    incremental MinHash dedup index (operators/incremental.py). One
    union + one keyed aggregate; with state and delta both bucketed on
    the key the exchange is colocated.
    """
    expected = {"n"} | {
        f"{f}_{m}" for m in measure_cols for f in ("cnt", "sum", "min", "max")
    }
    for side, name in ((prev, "prev"), (delta, "delta")):
        missing = expected - set(side.columns)
        if missing:
            raise ValueError(f"{name} state is missing columns: {sorted(missing)}")
    u = prev.unionByName(delta)
    aggs = [F.sum("n").alias("n")]
    for m in measure_cols:
        aggs += [
            F.sum(f"cnt_{m}").alias(f"cnt_{m}"),
            F.sum(f"sum_{m}").alias(f"sum_{m}"),
            F.min(f"min_{m}").alias(f"min_{m}"),
            F.max(f"max_{m}").alias(f"max_{m}"),
        ]
    return u.groupBy(*key_cols).agg(*aggs)


def mad_outliers(
    df: DataFrame,
    group_cols: str | list[str],
    value_col: str,
    z: float = 3.5,
    consistency: float = 1.4826,
) -> DataFrame:
    """Robust per-group outlier summary via median absolute deviation
    (public: Hampel identifier / Iglewicz & Hoaglin 1993 — the robust
    alternative to the mean±kσ clamp in ``clamp_outliers``, which a
    single extreme value can drag).

    A value is an outlier iff ``|x - median| > z · consistency · MAD``
    (consistency 1.4826 makes MAD estimate σ under normality; z=3.5 is
    the standard identifier cut).

    Scale shape: three keyed aggregates, each over one scan of the
    (broadcast-augmented) fact relation — group medians, then MAD of
    the absolute deviations, then the conditional outlier count; the
    per-group relations in between are |groups| rows and broadcast.
    Exact ``percentile`` sorts per group inside the aggregate; for
    extreme per-group cardinality swap in ``percentile_approx`` at
    the call site (same plan shape). Output is one row per group:
    (group, n, median, mad, n_outliers).
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    v = F.col(value_col).cast("double")
    med = df.groupBy(*groups).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("median"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    dev = df.join(F.broadcast(med), groups).withColumn(
        "__dev", F.abs(v - F.col("median"))
    )
    mad = dev.groupBy(*groups).agg(F.expr("percentile(__dev, 0.5)").alias("mad"))
    flagged = (
        dev.join(F.broadcast(mad), groups)
        .groupBy(*groups)
        .agg(
            F.sum(
                F.when(
                    F.col("__dev")
                    > F.lit(z) * F.lit(consistency) * F.col("mad"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers")
        )
    )
    return med.join(mad, groups).join(flagged, groups).select(
        *groups, "n", "median", "mad", "n_outliers"
    )


def mutual_information(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Mutual information (nats) between two categorical columns, with
    the marginal entropies — the dependence screen for feature
    selection / leakage detection over training tables (public:
    Cover & Thomas; sklearn ``mutual_info_score`` semantics, natural
    log).

        MI = Σ_xy  p(x,y) · ln( p(x,y) / (p(x)·p(y)) )
        H  = -Σ    p · ln p

    Scale shape: ONE groupBy(x, y) aggregate over the facts — every
    later relation (margins, total) derives from the |X|·|Y|-row joint,
    so the fact table is scanned exactly once; margins broadcast back
    onto the joint. NULLs participate as their own category (groupBy
    semantics), matching SQL GROUP BY.

    Returns ONE row: (n, mi, h_x, h_y) — unrounded; query sites round.
    """
    jc = (
        df.groupBy(F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))
        .agg(F.count(F.lit(1)).cast("double").alias("__c"))
        .transform(materialize)
    )
    mx = jc.groupBy("__x").agg(F.sum("__c").alias("__cx"))
    my = jc.groupBy("__y").agg(F.sum("__c").alias("__cy"))
    n = jc.agg(F.sum("__c").alias("__n"))
    mi = (
        jc.join(F.broadcast(mx), "__x")
        .join(F.broadcast(my), "__y")
        .crossJoin(F.broadcast(n))
        .agg(
            F.sum(
                (F.col("__c") / F.col("__n"))
                * F.log(
                    (F.col("__c") * F.col("__n"))
                    / (F.col("__cx") * F.col("__cy"))
                )
            ).alias("mi"),
            F.first("__n").cast("long").alias("n"),
        )
    )
    hx = mx.crossJoin(F.broadcast(n)).agg(
        (-F.sum((F.col("__cx") / F.col("__n")) * F.log(F.col("__cx") / F.col("__n"))))
        .alias("h_x")
    )
    hy = my.crossJoin(F.broadcast(n)).agg(
        (-F.sum((F.col("__cy") / F.col("__n")) * F.log(F.col("__cy") / F.col("__n"))))
        .alias("h_y")
    )
    return mi.crossJoin(hx).crossJoin(hy).select("n", "mi", "h_x", "h_y")


def cuped_ab_test(
    df: DataFrame,
    variant_col: str,
    y_col: str,
    x_col: str,
    control: str | int = 0,
    treatment: str | int = 1,
) -> DataFrame:
    """Two-variant experiment readout with CUPED variance reduction
    (public: Welch's unequal-variance z on the raw metric; CUPED per
    Deng, Xu, Kohavi & Walker WSDM 2013 — adjust the metric by a
    pre-experiment covariate, θ = cov(x,y)/var(x) pooled, which leaves
    the treatment effect unbiased and shrinks variance by the squared
    correlation).

        y'      = y − θ·(x − mean_pooled(x))
        var(y') = var(y) − 2θ·cov(x,y) + θ²·var(x)      (per variant)
        z       = (mean_t − mean_c) / sqrt(var_c/n_c + var_t/n_t)

    Scale shape: ONE aggregate pass over the facts collecting the six
    sufficient moments (n, Σy, Σy², Σx, Σx², Σxy) per variant — a
    2-row relation collected once (bounded by construction) for
    validation and re-lifted as plan literals; everything downstream
    (θ, lifts, z-scores) is arithmetic on those moments. Sample
    variances use the n−1 denominator.

    Returns ONE row: (n_c, n_t, mean_c, mean_t, lift, z, theta,
    lift_cuped, z_cuped, var_reduction_pct) — unrounded; query sites
    round. Raises if either variant has < 2 rows (variance undefined).
    """
    v = F.col(variant_col)
    y = F.col(y_col).cast("double")
    x = F.col(x_col).cast("double")
    m = (
        df.filter(v.isin([control, treatment]))
        .groupBy(
            F.when(v == F.lit(treatment), F.lit(1)).otherwise(F.lit(0)).alias("__g")
        )
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(y).alias("sy"),
            F.sum(y * y).alias("syy"),
            F.sum(x).alias("sx"),
            F.sum(x * x).alias("sxx"),
            F.sum(x * y).alias("sxy"),
        )
    )
    # ONE scan of the facts: the 2-row moment relation is collected
    # (bounded by construction), validated, and re-lifted as literals —
    # the facts are never rescanned for validation or the output.
    rows = {int(r["__g"]): r for r in m.collect()}
    if set(rows) != {0, 1} or any(r["n"] < 2 for r in rows.values()):
        raise ValueError(
            "cuped_ab_test: both variants must be present with >= 2 rows"
        )
    spark = df.sparkSession
    j = spark.createDataFrame(
        [
            tuple(float(rows[0][col]) for col in ["n", "sy", "syy", "sx", "sxx", "sxy"])
            + tuple(float(rows[1][col]) for col in ["n", "sy", "syy", "sx", "sxx", "sxy"])
        ],
        "n_c double, sy_c double, syy_c double, sx_c double, sxx_c double, sxy_c double, "
        "n_t double, sy_t double, syy_t double, sx_t double, sxx_t double, sxy_t double",
    )

    def stats(side: str):
        n = F.col(f"n_{side}")
        my = F.col(f"sy_{side}") / n
        mx = F.col(f"sx_{side}") / n
        vy = (F.col(f"syy_{side}") - n * my * my) / (n - 1)
        vx = (F.col(f"sxx_{side}") - n * mx * mx) / (n - 1)
        cxy = (F.col(f"sxy_{side}") - n * mx * my) / (n - 1)
        return n, my, mx, vy, vx, cxy

    n_c, my_c, mx_c, vy_c, vx_c, cxy_c = stats("c")
    n_t, my_t, mx_t, vy_t, vx_t, cxy_t = stats("t")
    # Pooled moments over both variants for θ and mean_pooled(x).
    n_p = n_c + n_t
    mx_p = (F.col("sx_c") + F.col("sx_t")) / n_p
    my_p = (F.col("sy_c") + F.col("sy_t")) / n_p
    vx_p = (F.col("sxx_c") + F.col("sxx_t") - n_p * mx_p * mx_p) / (n_p - 1)
    cxy_p = (F.col("sxy_c") + F.col("sxy_t") - n_p * mx_p * my_p) / (n_p - 1)
    theta = cxy_p / vx_p
    lift = my_t - my_c
    se = F.sqrt(vy_c / n_c + vy_t / n_t)
    madj_c = my_c - theta * (mx_c - mx_p)
    madj_t = my_t - theta * (mx_t - mx_p)
    vadj_c = vy_c - 2 * theta * cxy_c + theta * theta * vx_c
    vadj_t = vy_t - 2 * theta * cxy_t + theta * theta * vx_t
    lift_cuped = madj_t - madj_c
    se_cuped = F.sqrt(vadj_c / n_c + vadj_t / n_t)
    return j.select(
        n_c.cast("long").alias("n_c"),
        n_t.cast("long").alias("n_t"),
        my_c.alias("mean_c"),
        my_t.alias("mean_t"),
        lift.alias("lift"),
        (lift / se).alias("z"),
        theta.alias("theta"),
        lift_cuped.alias("lift_cuped"),
        (lift_cuped / se_cuped).alias("z_cuped"),
        (
            (F.lit(1.0) - (vadj_c + vadj_t) / (vy_c + vy_t)) * F.lit(100.0)
        ).alias("var_reduction_pct"),
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_cols: str | list[str] | None = None,
) -> DataFrame:
    """Kaplan-Meier product-limit survival estimator with right
    censoring (public: Kaplan & Meier 1958; the lifelines
    ``KaplanMeierFitter`` semantics) — the time-to-event readout every
    clinical cohort pipeline ends with (the reference labels mortality
    /LOS/readmission but leaves curve estimation to callers).

    Per (group,) distinct time t with d_t events among n_t at risk:

        S(t) = Π_{u ≤ t} (1 − d_u / n_u)
             = exp( Σ_{u ≤ t} ln(1 − d_u / n_u) )

    computed as an ordered running sum of logs, so the cumulative
    product is a window expression, not an iterative job. Censored
    subjects (event=0) leave the risk set at their duration without
    contributing a factor. Rows are emitted at event times only
    (d_t > 0), the standard step-curve support.

    Scale shape: ONE (group, duration) aggregate over the facts, then
    two windows over that distinct-times relation — |distinct
    durations| rows per group, typically tiny next to the cohort (a
    single-group call with millions of DISTINCT durations would bound
    one partition; pre-bucket durations in that regime). Output:
    ``(group..., t, n_risk, n_event, survival)`` with survival
    unrounded — query sites round.
    """
    groups = (
        [group_cols]
        if isinstance(group_cols, str)
        else list(group_cols or [])
    )
    t = F.col(duration_col)
    agg = df.groupBy(*groups, t.alias("t")).agg(
        F.sum(F.col(event_col).cast("double")).alias("__d"),
        F.count(F.lit(1)).cast("double").alias("__c"),
    )
    w_tot = Window.partitionBy(*groups) if groups else Window.partitionBy(F.lit(1))
    w_prev = (
        (Window.partitionBy(*groups) if groups else Window.partitionBy(F.lit(1)))
        .orderBy(F.col("t").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        (Window.partitionBy(*groups) if groups else Window.partitionBy(F.lit(1)))
        .orderBy(F.col("t").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    with_risk = agg.withColumn(
        "__n_risk",
        F.sum("__c").over(w_tot) - F.coalesce(F.sum("__c").over(w_prev), F.lit(0.0)),
    )
    # Spark's log() returns NULL (not -inf) for non-positive input, and
    # window sum() SKIPS nulls — an S(t)=0 step (d == n_risk, everyone
    # fails) would silently vanish from the product. Emit an explicit
    # -inf so exp() lands on exactly 0.0, matching C-family ln(0).
    factor = F.lit(1.0) - F.col("__d") / F.col("__n_risk")
    ln_factor = F.when(factor > 0, F.log(factor)).otherwise(
        F.lit(float("-inf"))
    )
    curve = with_risk.withColumn(
        "survival", F.exp(F.sum(ln_factor).over(w_cum))
    )
    return curve.filter(F.col("__d") > 0).select(
        *groups,
        F.col("t"),
        F.col("__n_risk").cast("long").alias("n_risk"),
        F.col("__d").cast("long").alias("n_event"),
        "survival",
    )


def logrank_test(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
) -> DataFrame:
    """Two-group log-rank (Mantel-Cox) test for survival-curve
    difference (public: Mantel 1966; lifelines ``logrank_test``
    semantics) — the hypothesis test that pairs with
    :func:`kaplan_meier`.

    At each pooled event time t with d_t total events among n_t at
    risk, group g contributes observed ``d_gt`` vs expected
    ``E_gt = d_t·n_gt/n_t``; the statistic is

        chi2 = ( Σ_t (d_1t − E_1t) )² / Σ_t V_t,
        V_t  = d_t · (n_1t/n_t) · (n_2t/n_t) · (n_t − d_t)/(n_t − 1)

    (V_t term is 0 when n_t = 1). Exactly two groups are required —
    raises otherwise.

    Scale shape: one (group, duration) aggregate over the facts, a
    |times|×2 grid (distinct-times relation crossed with the 2-row
    group list), per-group cumulative windows for the at-risk counts,
    and a final 1-row sum — same distinct-times regime as
    ``kaplan_meier``. Output ONE row:
    ``(group_a, group_b, obs_a, exp_a, obs_b, exp_b, chi2)``
    (groups in ascending order; unrounded — query sites round).
    """
    g = F.col(group_col)
    agg = df.groupBy(g.alias("g"), F.col(duration_col).alias("t")).agg(
        F.sum(F.col(event_col).cast("double")).alias("d"),
        F.count(F.lit(1)).cast("double").alias("c"),
    ).transform(materialize)
    # Bounded collect (repo convention): 3 rows decide the contract —
    # a high-cardinality column passed as the group never floods the
    # driver.
    groups = [r["g"] for r in agg.select("g").distinct().limit(3).collect()]
    if len(groups) != 2:
        raise ValueError(
            f"logrank_test: exactly 2 groups required, got {len(groups)}"
        )
    ga, gb = sorted(groups)
    times = agg.select("t").distinct()
    grid = times.crossJoin(
        agg.sparkSession.createDataFrame(
            [(ga,), (gb,)], agg.select("g").schema
        )
    )
    cells = grid.join(agg, ["g", "t"], "left").select(
        "g",
        "t",
        F.coalesce(F.col("d"), F.lit(0.0)).alias("d"),
        F.coalesce(F.col("c"), F.lit(0.0)).alias("c"),
    )
    w_tot = Window.partitionBy("g")
    w_prev = (
        Window.partitionBy("g")
        .orderBy(F.col("t").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = cells.withColumn(
        "n",
        F.sum("c").over(w_tot) - F.coalesce(F.sum("c").over(w_prev), F.lit(0.0)),
    )
    a = risk.filter(F.col("g") == ga).select(
        "t", F.col("d").alias("d1"), F.col("n").alias("n1")
    )
    b = risk.filter(F.col("g") == gb).select(
        "t", F.col("d").alias("d2"), F.col("n").alias("n2")
    )
    per_t = (
        a.join(b, "t")
        .withColumn("dt", F.col("d1") + F.col("d2"))
        .withColumn("nt", F.col("n1") + F.col("n2"))
        .filter(F.col("dt") > 0)
        .withColumn("e1", F.col("dt") * F.col("n1") / F.col("nt"))
        .withColumn(
            "v",
            F.when(
                F.col("nt") > 1,
                F.col("dt")
                * (F.col("n1") / F.col("nt"))
                * (F.col("n2") / F.col("nt"))
                * (F.col("nt") - F.col("dt"))
                / (F.col("nt") - 1),
            ).otherwise(F.lit(0.0)),
        )
    )
    return per_t.agg(
        F.lit(ga).alias("group_a"),
        F.lit(gb).alias("group_b"),
        F.sum("d1").alias("obs_a"),
        F.sum("e1").alias("exp_a"),
        F.sum("d2").alias("obs_b"),
        (F.sum("dt") - F.sum("e1")).alias("exp_b"),
        (
            F.pow(F.sum("d1") - F.sum("e1"), F.lit(2.0)) / F.sum("v")
        ).alias("chi2"),
    )


def chi_square_independence(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns, with Cramér's V effect size (public: Pearson 1900;
    scipy ``chi2_contingency(correction=False)`` semantics) — the
    frequentist sibling of :func:`mutual_information`, same
    scale shape: ONE joint groupBy over the facts, margins derived
    from the |X|·|Y|-row joint, broadcast back.

        chi2 = Σ_xy (o_xy − e_xy)² / e_xy,   e_xy = c_x·c_y / n
        V    = sqrt( chi2 / (n · min(|X|−1, |Y|−1)) )

    The sum runs over the FULL margin grid (observed 0 cells still
    contribute e_xy), built by crossing the margins and left-joining
    the joint. Returns ONE row: (n, dof, chi2, cramers_v) — unrounded.
    """
    jc = (
        df.groupBy(F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))
        .agg(F.count(F.lit(1)).cast("double").alias("__c"))
        .transform(materialize)
    )
    mx = jc.groupBy("__x").agg(F.sum("__c").alias("__cx"))
    my = jc.groupBy("__y").agg(F.sum("__c").alias("__cy"))
    n = jc.agg(F.sum("__c").alias("__n"))
    kx = mx.agg(F.count(F.lit(1)).alias("__kx"))
    ky = my.agg(F.count(F.lit(1)).alias("__ky"))
    grid = (
        mx.crossJoin(my)
        .join(jc, ["__x", "__y"], "left")
        .crossJoin(F.broadcast(n))
        .select(
            F.coalesce(F.col("__c"), F.lit(0.0)).alias("o"),
            (F.col("__cx") * F.col("__cy") / F.col("__n")).alias("e"),
        )
    )
    chi2 = grid.agg(
        F.sum(F.pow(F.col("o") - F.col("e"), F.lit(2.0)) / F.col("e")).alias(
            "chi2"
        )
    )
    return (
        chi2.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(kx))
        .crossJoin(F.broadcast(ky))
        .select(
            F.col("__n").cast("long").alias("n"),
            ((F.col("__kx") - 1) * (F.col("__ky") - 1)).cast("long").alias("dof"),
            F.col("chi2"),
            F.sqrt(
                F.col("chi2")
                / (F.col("__n") * F.least(F.col("__kx") - 1, F.col("__ky") - 1))
            ).alias("cramers_v"),
        )
    )


def population_stability(
    ref: DataFrame,
    *,
    cur: DataFrame,
    value_col: str,
    bins: int = 10,
    alpha: float = 1e-6,
) -> DataFrame:
    """Population stability index between a reference and a current
    distribution of a numeric column (public: the standard credit-risk
    /ML-monitoring drift metric; PSI < 0.1 stable, > 0.25 shifted):

        PSI = Σ_i (p_i − q_i) · ln(p_i / q_i)

    over ``bins`` buckets cut at the REFERENCE distribution's exact
    quantiles (the convention that makes p_i ≈ 1/bins by construction);
    shares are Laplace-smoothed with ``alpha`` so empty current-side
    buckets stay finite. Interior boundary buckets: value v lands in
    bucket i iff edge_{i-1} < v ≤ edge_i, with the outer edges open
    (±∞) so every NON-NULL value is binned. NULLs are dropped on both
    sides before bucketing — ``NULL > edge`` is NULL in SQL, so an
    unfiltered NULL row would land in bucket 0 (every WHEN falls
    through to otherwise(0)) and a nully upstream join would read as
    spurious low-bucket drift.

    Scale shape: one exact-percentile aggregate over the reference
    (one row of ``bins−1`` interior edges, broadcast as a literal-free
    cross join), then one conditional-sum bucket aggregate per side —
    each side scanned once. Returns per-bucket rows
    ``(bucket, ref_share, cur_share, psi_term)`` plus the total as
    bucket = −1 (so one relation carries both the diagnosis and the
    headline number).
    """
    if bins < 2:
        raise ValueError("population_stability: bins must be >= 2")
    ref = ref.filter(F.col(value_col).isNotNull())
    cur = cur.filter(F.col(value_col).isNotNull())
    qs = [i / bins for i in range(1, bins)]
    edges_row = ref.agg(
        F.expr(f"percentile({value_col}, array({','.join(map(str, qs))}))").alias(
            "__edges"
        )
    )

    def bucket_counts(df: DataFrame, side: str) -> DataFrame:
        # Unrolled edge comparisons (bins is static) — higher-order
        # array lambdas (F.aggregate/F.filter) evaluate interpreted,
        # outside whole-stage codegen (measured 47 s vs sub-second on
        # the same shape, PERF.md "interpreted-lambda trap"); a chain
        # of bins-1 scalar WHENs stays in codegen.
        v = F.col(value_col).cast("double")
        b_expr = sum(
            [
                F.when(v > F.col("__edges")[i], 1).otherwise(0)
                for i in range(bins - 1)
            ],
            start=F.lit(0),
        )
        b = df.crossJoin(F.broadcast(edges_row)).select(b_expr.alias("__b"))
        return b.groupBy("__b").agg(
            F.count(F.lit(1)).cast("double").alias(f"__c_{side}")
        )

    rc = bucket_counts(ref, "r")
    cc = bucket_counts(cur, "c")
    all_b = ref.sparkSession.range(bins).select(F.col("id").cast("int").alias("__b"))
    joined = (
        all_b.join(rc, "__b", "left")
        .join(cc, "__b", "left")
        .select(
            "__b",
            F.coalesce(F.col("__c_r"), F.lit(0.0)).alias("cr"),
            F.coalesce(F.col("__c_c"), F.lit(0.0)).alias("cc"),
        )
    )
    nr = joined.agg(F.sum("cr").alias("__nr"), F.sum("cc").alias("__nc"))
    terms = joined.crossJoin(F.broadcast(nr)).select(
        "__b",
        ((F.col("cr") + alpha) / (F.col("__nr") + bins * alpha)).alias("p"),
        ((F.col("cc") + alpha) / (F.col("__nc") + bins * alpha)).alias("q"),
    ).select(
        "__b",
        "p",
        "q",
        ((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))).alias(
            "psi_term"
        ),
    )
    per_bucket = terms.select(
        F.col("__b").cast("long").alias("bucket"),
        F.col("p").alias("ref_share"),
        F.col("q").alias("cur_share"),
        "psi_term",
    )
    total = terms.agg(
        F.lit(-1).cast("long").alias("bucket"),
        F.lit(None).cast("double").alias("ref_share"),
        F.lit(None).cast("double").alias("cur_share"),
        F.sum("psi_term").alias("psi_term"),
    )
    return per_bucket.unionByName(total)


def ks_statistic(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic
    ``D = sup_v |F_a(v) − F_b(v)|`` (public: the classic nonparametric
    distribution-equality test; scipy ``ks_2samp`` statistic — the
    p-value's asymptotic series is left to callers).

    Scale shape: each side collapses to its (value, count) relation in
    one aggregate; the union of distinct values forms the evaluation
    grid, both CDFs are DISTRIBUTED cumulative sums over that grid in
    one pass (``sampling.global_prefix_sums`` — one set of quantile
    bounds, no single-partition window; right-continuous:
    F(v) = #{x ≤ v}/n), and D is a 1-row max over
    the grid. The grid is |distinct values| rows — for continuous data
    at extreme scale, pre-round values at the call site (the statistic
    degrades gracefully with binning). Returns ONE row:
    (n_a, n_b, d_stat).
    """
    from mimic_iv_data_pipeline_spark.operators.sampling import global_prefix_sums

    a = df_a.groupBy(F.col(value_col).alias("v")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    b = df_b.groupBy(F.col(value_col).alias("v")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    grid = (
        a.join(b, "v", "full_outer")
        .select(
            "v",
            F.coalesce(F.col("ca"), F.lit(0)).alias("ca"),
            F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
        )
        .transform(materialize)
    )
    cum = global_prefix_sums(
        grid, [F.col("v").asc()], {"fa": F.col("ca"), "fb": F.col("cb")}, bucket_col="v"
    )
    tots = grid.agg(
        F.sum("ca").cast("double").alias("__na"),
        F.sum("cb").cast("double").alias("__nb"),
    )
    return (
        cum.crossJoin(F.broadcast(tots))
        .agg(
            F.first("__na").cast("long").alias("n_a"),
            F.first("__nb").cast("long").alias("n_b"),
            F.max(
                F.abs(F.col("fa") / F.col("__na") - F.col("fb") / F.col("__nb"))
            ).alias("d_stat"),
        )
    )


def roc_pr_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Full ROC + precision/recall curve at every distinct score
    threshold, with step-interpolated average precision and the
    trapezoidal ROC-AUC as constant summary columns (the evaluation
    twins of :func:`rank_auc`, which returns only the scalar
    Mann-Whitney AUC — for tied-score data trapezoid == rank AUC, a
    cross-check the tests pin).

    Exactness: thresholds collapse by GROUP BY score, cumulative
    TP/FP are integer :func:`~.sampling.global_prefix_sums` over the
    score-descending total order, and AP/AUC are assembled from
    integer term sums (precision quantized to micro-units first), so
    every output is a deterministic function of integer counts — no
    float summation-order sensitivity anywhere.

    Scale shape: one groupBy(score) shuffle, one range shuffle for the
    prefix sums (curve size = distinct scores — quantize scores
    upstream if they're near-unique doubles), one 1-row totals
    aggregate cross-joined back (literal broadcast), one integer term
    aggregate. No single-partition window over the facts.

    The |distinct scores|-row per-score relation is MATERIALIZED once
    (3 consumers — prefix sums, totals, curve — each would re-run the
    fact scan without it) via
    :func:`~mimic_iv_data_pipeline_spark.engine.materialize`. The cost
    is one eager job at call time.
    """
    from mimic_iv_data_pipeline_spark.engine import materialize
    from mimic_iv_data_pipeline_spark.operators.sampling import global_prefix_sums

    lab = F.col(label_col).cast("long")
    by_score = df.groupBy(F.col(score_col).alias("score")).agg(
        F.sum(lab).alias("pos"),
        F.sum(F.lit(1) - lab).alias("neg"),
    )
    by_score = materialize(by_score)
    cum = global_prefix_sums(
        by_score,
        [F.col("score").desc()],
        {"cum_tp": F.col("pos"), "cum_fp": F.col("neg")},
        bucket_col="score",
        bucket_desc=True,
    )
    # totals from the tiny by_score relation — P = Σpos, N = Σneg by
    # construction; aggregating df again would re-scan the full fact
    # table (the operator's only corpus-sized input) a second time
    totals = by_score.agg(
        F.sum("pos").cast("long").alias("__P"),
        F.sum("neg").cast("long").alias("__N"),
    )
    curve = cum.crossJoin(F.broadcast(totals)).withColumn(
        "prec_micro",
        F.floor(
            F.lit(1e6) * F.col("cum_tp") / (F.col("cum_tp") + F.col("cum_fp"))
            + F.lit(0.5)
        ).cast("long"),
    )
    summary = curve.agg(
        F.sum(F.col("pos") * F.col("prec_micro")).alias("__ap_micro"),
        F.sum(F.col("neg") * (2 * F.col("cum_tp") - F.col("pos"))).alias("__auc2"),
        F.first("__P").alias("__P2"),
        F.first("__N").alias("__N2"),
    ).select(
        (F.col("__ap_micro") / (F.col("__P2") * F.lit(1e6))).alias("ap"),
        (F.col("__auc2") / (2.0 * F.col("__P2") * F.col("__N2"))).alias("roc_auc"),
    )
    return curve.crossJoin(F.broadcast(summary)).select(
        "score",
        "pos",
        "neg",
        "cum_tp",
        "cum_fp",
        (F.col("cum_tp") / F.col("__P")).alias("tpr"),
        (F.col("cum_fp") / F.col("__N")).alias("fpr"),
        (F.col("prec_micro") / F.lit(1e6)).alias("precision"),
        "ap",
        "roc_auc",
    )


def lift_gains(
    df: DataFrame,
    score_col: str,
    label_col: str,
    tie_break: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Cumulative gains / lift table: rank by score descending, cut
    into ``n_buckets`` equal-depth buckets, and report per bucket the
    captured-positive share (gain) and lift vs. random targeting (the
    campaign-targeting decile classic).

    Bucket rule: ``1 + (rank-1)*B div n`` over the total order
    ``(score desc, tie_break asc)`` — pure integer arithmetic, so both
    engines agree on every boundary (ANSI ntile differs only in where
    the remainder rows land; this floor rule is pinned on both sides).

    Scale shape: one distributed global rank
    (:func:`~.sampling.global_prefix_sums` — no single-partition
    window over the facts), one B-row bucket aggregate, cumulative
    sums over the B-row relation only. One ``count()`` action for n.
    """
    from mimic_iv_data_pipeline_spark.operators.sampling import global_prefix_sums

    n = df.count()
    if n == 0:
        raise ValueError("lift_gains: empty input")
    ranked = global_prefix_sums(
        df,
        [F.col(score_col).desc(), F.col(tie_break).asc()],
        {"__rank": F.lit(1)},
        bucket_col=score_col,
        bucket_desc=True,
    )
    b = ranked.withColumn(
        "bucket",
        F.expr(
            f"CAST(1 + ((__rank - 1) * {int(n_buckets)}) DIV {int(n)} AS BIGINT)"
        ),
    )
    per = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col(label_col).cast("long")).cast("long").alias("n_pos"),
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per.select(
        "bucket",
        "n_rows",
        "n_pos",
        F.sum("n_rows").over(w).cast("long").alias("cum_rows"),
        F.sum("n_pos").over(w).cast("long").alias("cum_pos"),
        (F.sum("n_pos").over(w) / F.sum("n_pos").over(wall)).alias("gain"),
        (
            (F.sum("n_pos").over(w) / F.sum("n_pos").over(wall))
            / (F.sum("n_rows").over(w) / F.sum("n_rows").over(wall))
        ).alias("lift"),
    )


def _exact_sums(
    df: DataFrame,
    group_cols: list[str],
    terms: dict[str, Column],
) -> DataFrame:
    """Per-group exact sums: each term is cast to decimal(38,0) BEFORE
    summation so the aggregate is integer-exact (order-insensitive —
    double accumulation order differs between engines and across
    partitionings; decimal sums don't). Callers quantize inputs to
    integer units (cents / micro-units) upstream and convert the exact
    sums to double only for the final closed-form arithmetic, which is
    then a fixed sequence of IEEE ops both engines execute identically.
    """
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            F.sum(c.cast("decimal(38,0)")).alias(name)
            for name, c in terms.items()
        ],
    )


def grouped_linreg(
    df: DataFrame,
    group_by: str | list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group simple (one-feature) least-squares fit: slope,
    intercept, and R² from the closed form — ONE hash aggregate over
    the facts (map-side combinable), no iteration, no driver math.

    ``x_col``/``y_col`` must be integer-quantized (long) — quantize
    doubles to cents/micro-units upstream. The five sufficient
    statistics (Σx, Σy, Σx², Σy², Σxy) are decimal(38,0)-exact, so the
    slope/intercept/R² doubles are bit-identical across engines and
    partitionings (the SQL twin runs the same formula on the same
    exact sums). Degenerate groups: ``var(x)=0`` → slope/intercept/R²
    NULL; ``var(y)=0`` with ``var(x)>0`` → R² NULL (0/0).

    Scale shape: one groupBy shuffle carrying 6 numeric partials per
    group — the same cost as any multi-agg; output is |groups| rows.
    """
    groups = _cols(group_by)
    x, y = F.col(x_col), F.col(y_col)
    # square/cross in decimal(18,0) so |x|,|y| up to ~1e18 never wrap
    # the long multiply (the anova/smd/welch convention — a raw long
    # x*x wraps silently at |x| > ~3e9 BEFORE _exact_sums' cast)
    x18, y18 = x.cast("decimal(18,0)"), y.cast("decimal(18,0)")
    s = _exact_sums(
        df,
        groups,
        {"sx": x, "sy": y, "sxx": x18 * x18, "syy": y18 * y18, "sxy": x18 * y18},
    )
    nD = F.col("n").cast("double")
    sxD, syD = F.col("sx").cast("double"), F.col("sy").cast("double")
    # differences in DECIMAL, cast once (the spearman pattern): the
    # double form n·Σx² − (Σx)² catastrophically cancels at large |x|
    # (two ~1e20 doubles whose difference is ~1e2 rounds to 0 → NULL
    # slope on perfectly-fit data)
    nB = F.col("n").cast("decimal(38,0)")
    vx = (nB * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (nB * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    cov = (nB * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    slope = F.when(vx != 0, cov / vx)
    return s.select(
        *groups,
        "n",
        slope.alias("slope"),
        F.when(vx != 0, (syD - (cov / vx) * sxD) / nD).alias("intercept"),
        F.when((vx != 0) & (vy != 0), (cov * cov) / (vx * vy)).alias("r2"),
    )


def seasonal_zscore(
    df: DataFrame,
    group_by: str | list[str],
    value_col: str,
    threshold: float = 3.0,
) -> DataFrame:
    """Seasonal anomaly flagging: z-score every row against the
    mean/std of its OWN seasonal cell (e.g. (event_type, hour-of-day))
    and keep |z| >= threshold — the de-seasonalized outlier detector.

    ``value_col`` must be integer-quantized (long): cell mean and the
    sample std come from decimal-exact Σy/Σy², so z is a fixed IEEE
    expression both engines evaluate identically. Cells with n <= 1 or
    zero variance produce no anomalies (no std to score against).

    Scale shape: one |cells|-row exact-sum aggregate broadcast-joined
    back onto the facts (seasonal keys are low-cardinality by
    construction — document yours if not), then a narrow filter. No
    window over the facts.
    """
    groups = _cols(group_by)
    y = F.col(value_col)
    y18 = y.cast("decimal(18,0)")  # square pre-cast: no long wrap
    stats = _exact_sums(df, groups, {"sy": y, "syy": y18 * y18})
    nD = F.col("n").cast("double")
    syD = F.col("sy").cast("double")
    # decimal difference, cast once (spearman pattern — no cancellation)
    vy = (
        F.col("n").cast("decimal(38,0)") * F.col("syy")
        - F.col("sy") * F.col("sy")
    ).cast("double")
    stats = stats.select(
        *groups,
        (syD / nD).alias("__mean"),
        F.when(
            (F.col("n") > 1) & (vy > 0),
            F.sqrt(vy / (nD * (nD - F.lit(1.0)))),
        ).alias("__std"),
    )
    z = (y.cast("double") - F.col("__mean")) / F.col("__std")
    return (
        df.join(F.broadcast(stats), on=groups, how="inner")
        .withColumn("z", z)
        .filter(F.col("__std").isNotNull() & (F.abs(F.col("z")) >= F.lit(threshold)))
        .drop("__mean", "__std")
    )


def acf(
    df: DataFrame,
    key_cols: str | list[str],
    order_col: str,
    value_col: str,
    max_lag: int,
) -> DataFrame:
    """Per-key autocorrelation function: Pearson r between the series
    and its lag-L shift for L = 1..max_lag, over the total order
    ``order_col`` within each key.

    Lags are POSITIONAL (row lags) — on a gappy series run the dense
    grid operator (``temporal.dense_grid``) upstream so position =
    time step. ``value_col`` must be integer-quantized (long); each
    (key, lag) correlation comes from decimal-exact sums over the
    non-null pairs, so r is engine-exact. Pairs with zero variance on
    either side → r NULL.

    Scale shape: ONE window pass per key computes all max_lag shifts
    (shared sort), a narrow explode stacks them (≤ max_lag× row
    inflation before the aggregate's map-side combine), one hash
    aggregate to |keys|·max_lag rows. No self-join on the facts.
    """
    keys = _cols(key_cols)
    w = Window.partitionBy(*keys).orderBy(order_col)
    shifted = df.select(
        *keys,
        F.col(value_col).alias("__y"),
        *[
            F.lag(value_col, lag).over(w).alias(f"__x{lag}")
            for lag in range(1, max_lag + 1)
        ],
    )
    lagged = shifted.select(
        *keys,
        "__y",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(lag).cast("long").alias("lag"),
                        F.col(f"__x{lag}").alias("__x"),
                    )
                    for lag in range(1, max_lag + 1)
                ]
            )
        ).alias("__p"),
    ).select(*keys, "__y", F.col("__p.lag").alias("lag"), F.col("__p.__x").alias("__x"))
    pairs = lagged.filter(F.col("__x").isNotNull())
    x, y = F.col("__x"), F.col("__y")
    # decimal pre-cast squares/cross (no silent long wrap — the
    # anova/smd/welch convention)
    x18, y18 = x.cast("decimal(18,0)"), y.cast("decimal(18,0)")
    s = _exact_sums(
        pairs,
        keys + ["lag"],
        {"sx": x, "sy": y, "sxx": x18 * x18, "syy": y18 * y18, "sxy": x18 * y18},
    )
    # decimal differences, cast once (spearman pattern — no cancellation)
    nB = F.col("n").cast("decimal(38,0)")
    vx = (nB * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (nB * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    cov = (nB * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    return s.select(
        *keys,
        "lag",
        F.col("n").alias("n_pairs"),
        F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy)).alias("r"),
    )


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Two-sample Mann-Whitney U (Wilcoxon rank-sum) test with midrank
    tie handling and the tie-corrected normal approximation (public:
    Mann & Whitney 1947; ``scipy.stats.mannwhitneyu``
    method='asymptotic' without continuity correction). The
    nonparametric A/B readout beside :func:`cuped_ab_test` (means) and
    :func:`ks_statistic` (full-distribution distance); exactly two
    groups are required — raises otherwise (bounded probe collect,
    repo convention).

    Rank arithmetic is INTEGER-exact: after collapsing the facts to
    DISTINCT values carrying per-group counts, a tied block of size t
    at cumulative offset c has midrank c + (t+1)/2, so

        2·R_a = Σ_blocks n_a(block) · (2·c + t + 1)

    is an exact decimal sum; U_a = R_a − n_a(n_a+1)/2, the tie term
    Σ(t³−t), and the z / AUC doubles derive from those integers in a
    pinned IEEE op sequence both engines execute identically
    (``value_col`` must be exactly representable — integers or
    parquet-carried doubles compared bitwise by the collapse).

    Scale shape: ONE groupBy(value) collapse (map-side combinable);
    the only ordered window runs over the |distinct values| relation —
    the :func:`rank_auc` regime — never the raw facts.

    Returns ONE row: ``(group_a, group_b, n_a, n_b, u_a, z, auc_a)``
    (groups ascending; ``auc_a`` = P(a > b) + ½P(a = b) = U_a/(n_a·n_b);
    z is NULL when every value is tied). Rows with a NULL value or
    group are excluded (complete-case, scipy's nan_policy='omit') —
    a NULL block would otherwise silently enter the rank algebra as
    the lowest rank. Unrounded — query sites round.
    """
    per = (
        df.filter(F.col(value_col).isNotNull() & F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("__g"), F.col(value_col).alias("__v"))
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .transform(materialize)
    )
    groups = [r["__g"] for r in per.select("__g").distinct().limit(3).collect()]
    if len(groups) != 2:
        raise ValueError(
            f"mann_whitney_u: exactly 2 groups required, got {len(groups)}"
        )
    ga, gb = sorted(groups)
    blocks = per.groupBy("__v").agg(
        F.sum(F.when(F.col("__g") == ga, F.col("__c")).otherwise(0)).alias("__na"),
        F.sum(F.when(F.col("__g") == gb, F.col("__c")).otherwise(0)).alias("__nb"),
    )
    t = (F.col("__na") + F.col("__nb")).cast("decimal(38,0)")
    w = Window.orderBy(F.col("__v").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = blocks.withColumn(
        "__cb",
        F.coalesce(
            F.sum((F.col("__na") + F.col("__nb")).cast("decimal(38,0)")).over(w),
            F.lit(0).cast("decimal(38,0)"),
        ),
    )
    s = cum.agg(
        F.sum("__na").cast("decimal(38,0)").alias("n1"),
        F.sum("__nb").cast("decimal(38,0)").alias("n2"),
        F.sum(
            F.col("__na").cast("decimal(38,0)")
            * (F.lit(2).cast("decimal(38,0)") * F.col("__cb") + t + 1)
        ).alias("two_ra"),
        F.sum(t * t * t - t).alias("tie"),
    )
    n1D, n2D = F.col("n1").cast("double"), F.col("n2").cast("double")
    nD = n1D + n2D
    # 2·U_a exact, then one halving: U_a = (2R_a − n_a(n_a+1)) / 2
    two_u = (
        F.col("two_ra") - F.col("n1") * (F.col("n1") + 1)
    ).cast("double")
    u_a = two_u / F.lit(2.0)
    var_u = (n1D * n2D / F.lit(12.0)) * (
        (nD + F.lit(1.0)) - F.col("tie").cast("double") / (nD * (nD - F.lit(1.0)))
    )
    z = F.when(var_u > 0, (u_a - n1D * n2D / F.lit(2.0)) / F.sqrt(var_u))
    return s.select(
        F.lit(ga).alias("group_a"),
        F.lit(gb).alias("group_b"),
        F.col("n1").cast("long").alias("n_a"),
        F.col("n2").cast("long").alias("n_b"),
        u_a.alias("u_a"),
        z.alias("z"),
        (u_a / (n1D * n2D)).alias("auc_a"),
    )


def anova_oneway(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """One-way ANOVA F-test across k groups (public: Fisher; scipy
    ``f_oneway`` semantics) with the effect size eta² — the k-group
    generalization of the two-sample mean tests.

    ``value_col`` must be integer-quantized (long). Per-group n/Σy/Σy²
    are decimal(38,0)-exact. Sums of squares are shift-invariant, and
    computing them at raw magnitude is catastrophic cancellation
    (SS − S²/n subtracts ~1e16 doubles whose true difference is
    O(variance) — observed: negative SSW on cent-scale prices), so the
    exact sums are re-centered ALGEBRAICALLY around the integer global
    mean c = floor(S/n): s' = s − n·c and ss' = ss − 2c·s + c²·n,
    decimal-exact, no second scan of the facts. The one
    order-sensitive reduction — the between-group term Σ_g s'_g²/n_g,
    a double sum over the groups relation — is pre-quantized to
    integer micro-units per group (floor(x·1e6 + 0.5), the
    roc_pr_curve recipe) and summed exactly, so the final F/eta²
    doubles are a fixed IEEE sequence identical across engines and
    partitionings (defined at 1e-6 resolution of the centered group
    terms — negligible, and deterministic).

    Scale shape: ONE map-side-combinable hash aggregate over the facts
    to |groups| rows, two tiny re-aggregates (the first derives the
    shift constant). Returns ONE row:
    ``(k, n, ss_between, ss_within, f_stat, eta_sq)`` — f_stat NULL
    when k < 2, n ≤ k, or SSW = 0; eta_sq NULL when SST = 0.
    Unrounded — query sites round.
    """
    y = F.col(value_col)
    # complete-case: a NULL y would be counted in n but skipped by the
    # sums, silently deflating every mean/variance
    df = df.filter(y.isNotNull() & F.col(group_col).isNotNull())
    # square in decimal(18,0) so |y| up to ~1e18 never overflows the
    # long multiply (decimal(18,0)² → decimal(37,0), exact)
    y18 = y.cast("decimal(18,0)")
    g = _exact_sums(df, [group_col], {"s": y, "ss": y18 * y18})
    # Integer shift constant ≈ the global mean. floor(double(S)/double(n))
    # is a fixed IEEE sequence (cast, divide, floor — identical in any
    # engine), so c is the same integer everywhere; ANY c preserves the
    # sums of squares exactly, its only job is magnitude reduction.
    shift = g.agg(
        F.floor(
            F.sum("s").cast("double") / F.sum("n").cast("double")
        ).cast("decimal(38,0)").alias("__c")
    )
    gc = g.crossJoin(F.broadcast(shift)).select(
        (F.col("s") - F.col("n") * F.col("__c")).alias("s"),
        (
            F.col("ss")
            - 2 * F.col("__c") * F.col("s")
            + F.col("__c") * F.col("__c") * F.col("n")
        ).alias("ss"),
        "n",
    )
    # floor WITHOUT Spark's long-returning FLOOR: the term reaches
    # ~2e19 at sf0.001 already (cs²/n·1e6) and silently wrapped long —
    # caught by the sf0.001 oracle sweep. Doubles ≥ 2^53 are integral,
    # so floor is the identity there; below 2^53 FLOOR's long fits.
    # Both branches stay double, then one exact integral-double →
    # decimal cast. The SQL twin mirrors the CASE verbatim.
    ty = (
        (F.col("s").cast("double") * F.col("s").cast("double"))
        / F.col("n").cast("double")
        * F.lit(1e6)
        + F.lit(0.5)
    )
    term_micro = (
        F.when(ty >= F.lit(9007199254740992.0), ty)
        .otherwise(F.floor(ty).cast("double"))
        .cast("decimal(38,0)")
    )
    tot = gc.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n"),
        F.sum("s").alias("S"),
        F.sum("ss").alias("SS"),
        F.sum(term_micro).alias("T_micro"),
    )
    nD = F.col("n").cast("double")
    kD = F.col("k").cast("double")
    grand = (
        F.col("S").cast("double") * F.col("S").cast("double") / nD
    )
    ssb = F.col("T_micro").cast("double") / F.lit(1e6) - grand
    sst = F.col("SS").cast("double") - grand
    ssw = sst - ssb
    f_stat = F.when(
        (F.col("k") > 1) & (F.col("n") > F.col("k")) & (ssw > 0),
        (ssb / (kD - F.lit(1.0))) / (ssw / (nD - kD)),
    )
    return tot.select(
        "k",
        "n",
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        f_stat.alias("f_stat"),
        F.when(sst > 0, ssb / sst).alias("eta_sq"),
    )


def bh_fdr(
    df: DataFrame,
    id_col: str,
    p_col: str,
    alpha: float = 0.05,
) -> DataFrame:
    """Benjamini-Hochberg FDR adjustment over a relation of hypothesis
    tests (public: Benjamini & Hochberg 1995; ``statsmodels``
    ``multipletests(method='fdr_bh')`` q-value semantics) — the
    multiple-testing companion of :func:`chi_square_independence` /
    :func:`mann_whitney_u` / :func:`anova_oneway` when one run fans
    out over many segments.

        q_i = min(1, min_{j ≥ i} p_(j)·m / j),   reject ⟺ q_i ≤ alpha

    with p ranked ascending and ties broken by ``id_col`` — the
    step-up rule expressed as a reverse running minimum, so the reject
    set equals the classic "largest i with p_(i) ≤ i·alpha/m" rule.

    Scale shape: two windows over the TESTS relation — one row per
    hypothesis, bounded by the number of segments tested (thousands),
    never by the fact table the p-values came from. The windows are
    deliberately single-partition (|tests| rows); a million-test
    screen should pre-bucket via ``sampling.global_prefix_sums``.

    Returns one row per test: ``(id, p, rank, m, q_value, reject)``
    with ``p`` passed through unchanged. q unrounded — query sites
    round.
    """
    wr = Window.orderBy(F.col(p_col).asc(), F.col(id_col).asc())
    # a NULL p-value would sort last and silently poison every q at or
    # below it through the reverse min — fail loudly instead
    checked = F.when(
        F.col(p_col).isNull(),
        F.raise_error(F.lit("bh_fdr: NULL p-value — fix the test relation")),
    ).otherwise(F.col(p_col))
    df = df.withColumn(p_col, checked)
    ranked = df.select(
        F.col(id_col),
        F.col(p_col),
        F.row_number().over(wr).alias("rank"),
        F.count(F.lit(1)).over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("long").alias("m"),
    )
    raw = F.col(p_col) * F.col("m").cast("double") / F.col("rank").cast("double")
    wmin = Window.orderBy(F.col("rank").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    out = ranked.withColumn(
        "q_value", F.least(F.lit(1.0), F.min(raw).over(wmin))
    )
    return out.select(
        id_col,
        p_col,
        F.col("rank").cast("long").alias("rank"),
        "m",
        "q_value",
        (F.col("q_value") <= F.lit(float(alpha))).alias("reject"),
    )


def rfm_scores(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    value_col: str,
    n_bins: int = 5,
) -> DataFrame:
    """RFM (recency / frequency / monetary) customer scoring (public:
    Hughes 1994; the standard product-analytics segmentation) — each
    user's last-activity age, event count, and integer-quantized spend,
    each quantile-binned 1..n_bins with 5 (n_bins) = best.

    Determinism: recency is an exact integer second difference from
    the corpus max timestamp (no wall clock — reproducible snapshots);
    ntile runs with the repo's pinned tie-break (metric, then user id),
    the same ANSI remainder semantics q22 proved identical across
    engines. The ntile windows run over the |users| AGGREGATE relation
    (one row per user), not the facts — at extreme user cardinality
    swap in the ``sampling.global_prefix_sums`` rank engine (the
    lift_gains recipe).

    Returns ``(user, recency_s, frequency, monetary, r, f, m,
    rfm_cell)`` with rfm_cell = 100·r + 10·f + m.
    """
    per_user = df.groupBy(F.col(user_col).alias("user")).agg(
        F.unix_micros(F.max(ts_col)).alias("__last_us"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(F.col(value_col).cast("decimal(38,0)")).cast("long").alias("monetary"),
    )
    corpus_max = df.agg(F.unix_micros(F.max(ts_col)).alias("__max_us"))
    base = per_user.crossJoin(F.broadcast(corpus_max)).select(
        "user",
        # integral division (`div` here, `//` in the SQL twin) — a
        # float divide + cast would truncate in Spark but
        # round-to-nearest in DuckDB's BIGINT cast
        F.expr("(__max_us - __last_us) div 1000000").alias("recency_s"),
        "frequency",
        "monetary",
    )
    # score 5 = best: most recent (smallest recency), most frequent,
    # highest spend — so recency orders DESC and the others ASC.
    r = F.ntile(n_bins).over(
        Window.orderBy(F.col("recency_s").desc(), F.col("user").asc())
    )
    f = F.ntile(n_bins).over(
        Window.orderBy(F.col("frequency").asc(), F.col("user").asc())
    )
    m = F.ntile(n_bins).over(
        Window.orderBy(F.col("monetary").asc(), F.col("user").asc())
    )
    return base.select(
        "user",
        "recency_s",
        "frequency",
        "monetary",
        r.cast("long").alias("r"),
        f.cast("long").alias("f"),
        m.cast("long").alias("m"),
    ).withColumn("rfm_cell", (F.col("r") * 100 + F.col("f") * 10 + F.col("m")))


def isotonic_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
    max_bins: int = 2000,
) -> DataFrame:
    """Isotonic-regression calibration map over BINNED scores — the
    nonparametric recalibrator next to :func:`fit_temperature`
    (public: Zadrozny & Elkan 2002; sklearn ``IsotonicRegression``).
    The fit is computed with the minimax identity for weighted
    isotonic regression (Barlow et al. 1972):

        iso_i = max_{k ≤ i} min_{j ≥ i} avg(k..j)

    which is EXACTLY the pool-adjacent-violators solution but
    expressible as relational windows — no sequential driver loop, and
    a DuckDB twin can replay it verbatim (PAV itself is not plain
    SQL; the minimax form is).

    ``score_col`` must be pre-quantized: the operator refuses more
    than ``max_bins`` distinct scores (bounded probe + raise, the repo
    convention) because the pair relation is O(B²) — the intended
    regime is percent/logit bins, where B² is trivial. Averages are
    ratios of exact integer prefix-sum differences; the running
    min/max are comparisons only, so the whole map is engine-portable.

    Scale shape: ONE groupBy(score) collapse of the facts; everything
    after runs on the B-row bin relation (B² pairs, two windows, one
    aggregate). Returns one row per bin:
    ``(score, n, pos, rate, iso)`` with iso the calibrated
    probability, non-decreasing in score (property-tested).
    """
    # complete-case: NULL labels would inflate n but not pos; NULL
    # scores would form a phantom lowest bin
    bins = (
        df.filter(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(F.col(score_col).alias("s"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col(label_col).cast("long")).cast("long").alias("pos"),
        )
    )
    probe = bins.limit(max_bins + 1).count()
    if probe > max_bins:
        raise ValueError(
            f"isotonic_calibration: more than max_bins={max_bins} distinct "
            "scores — quantize the score upstream (bins ARE the use case)"
        )
    w = Window.orderBy(F.col("s").asc())
    cum = bins.select(
        "s",
        "n",
        "pos",
        F.row_number().over(w).alias("i"),
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cn"),
        F.sum("pos").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cp"),
    )
    lo = cum.select(
        F.col("i").alias("k"),
        (F.col("cn") - F.col("n")).alias("cn_before"),
        (F.col("cp") - F.col("pos")).alias("cp_before"),
    )
    hi = cum.select(F.col("i").alias("j"), F.col("cn").alias("cn_j"), F.col("cp").alias("cp_j"))
    pairs = lo.join(F.broadcast(hi), F.col("k") <= F.col("j")).select(
        "k",
        "j",
        (
            (F.col("cp_j") - F.col("cp_before")).cast("double")
            / (F.col("cn_j") - F.col("cn_before")).cast("double")
        ).alias("avg"),
    )
    # m(k, i) = min over j >= i of avg(k..j): per-k suffix min
    wk = Window.partitionBy("k").orderBy(F.col("j").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    m = pairs.select("k", F.col("j").alias("i"), F.min("avg").over(wk).alias("m"))
    # iso_i = max over k <= i of m(k, i); rows only exist for k <= i
    iso = m.groupBy("i").agg(F.max("m").alias("iso"))
    return (
        cum.join(F.broadcast(iso), "i")
        .select(
            "s",
            "n",
            "pos",
            (F.col("pos").cast("double") / F.col("n").cast("double")).alias("rate"),
            "iso",
        )
    )


def smd_balance(
    df: DataFrame,
    group_col: str,
    covariate_cols: list[str],
) -> DataFrame:
    """Standardized mean differences between two groups for a set of
    integer-quantized covariates (public: the covariate-balance
    diagnostic of propensity-score analysis — Austin 2009; |SMD| < 0.1
    is the usual balance rule):

        SMD = (mean_a − mean_b) / sqrt((var_a + var_b) / 2)

    with the sample variance computed from the EXACT decimal identity
    var = (n·Σy² − (Σy)²) / (n·(n−1)) — the numerator is an exact
    integer subtraction, so there is no raw-magnitude cancellation
    (the anova_oneway failure mode) and no shift is needed. Exactly
    two groups (raises otherwise; bounded probe).

    Null convention (r11 self-review fix): each covariate's n is its
    NON-NULL count in that group (pairwise-complete, per covariate) —
    the previous shared ``count(*)`` counted NULL-covariate rows in
    the denominator while the sums skipped them, silently deflating
    that covariate's mean and variance (exactly the anova_oneway
    complete-case failure mode, pinned in tests/test_aggregates.py).
    NULL groups are excluded.

    Scale shape: ONE hash aggregate over the facts computing every
    covariate's (n, Σy, Σy²) per group, a 2-row relation reshaped
    plan-side. Returns one row per covariate:
    ``(covariate, n_a, n_b, mean_a, mean_b, var_a, var_b, smd)`` —
    groups in ascending label order; smd NULL when both variances
    are 0.
    """
    df = df.filter(F.col(group_col).isNotNull())
    g = df.select(F.col(group_col).alias("__g")).distinct().limit(3).collect()
    groups = sorted(r["__g"] for r in g)
    if len(groups) != 2:
        raise ValueError(f"smd_balance: exactly 2 groups required, got {len(groups)}")
    ga, gb = groups
    aggs = []
    for c in covariate_cols:
        y = F.col(c)
        y18 = y.cast("decimal(18,0)")
        aggs.append(F.count(y).cast("long").alias(f"__n_{c}"))
        aggs.append(F.sum(y.cast("decimal(38,0)")).alias(f"__s_{c}"))
        aggs.append(F.sum(y18 * y18).alias(f"__ss_{c}"))
    per = df.groupBy(F.col(group_col).alias("__g")).agg(*aggs)
    a = per.filter(F.col("__g") == ga).drop("__g")
    b = per.filter(F.col("__g") == gb).drop("__g")
    j = a.crossJoin(
        F.broadcast(
            b.select(
                *[F.col(f"__n_{c}").alias(f"__nb_{c}") for c in covariate_cols],
                *[F.col(f"__s_{c}").alias(f"__sb_{c}") for c in covariate_cols],
                *[F.col(f"__ss_{c}").alias(f"__ssb_{c}") for c in covariate_cols],
            )
        )
    )

    def _stats(s, ss, n):
        nD = n.cast("double")
        mean = F.when(n > 0, s.cast("double") / nD)
        # exact decimal numerator: no cancellation at any magnitude
        num = (n.cast("decimal(38,0)") * ss - s * s).cast("double")
        var = F.when(n > 1, num / (nD * (nD - F.lit(1.0))))
        return mean, var

    rows = []
    for c in covariate_cols:
        ma, va = _stats(F.col(f"__s_{c}"), F.col(f"__ss_{c}"), F.col(f"__n_{c}"))
        mb, vb = _stats(F.col(f"__sb_{c}"), F.col(f"__ssb_{c}"), F.col(f"__nb_{c}"))
        pooled = (va + vb) / F.lit(2.0)
        rows.append(
            F.struct(
                F.lit(c).alias("covariate"),
                F.col(f"__n_{c}").alias("n_a"),
                F.col(f"__nb_{c}").alias("n_b"),
                ma.alias("mean_a"),
                mb.alias("mean_b"),
                va.alias("var_a"),
                vb.alias("var_b"),
                F.when(pooled > 0, (ma - mb) / F.sqrt(pooled)).alias("smd"),
            )
        )
    return j.select(F.explode(F.array(*rows)).alias("__r")).select("__r.*")


def epi_2x2(
    df: DataFrame,
    exposure_col: str,
    outcome_col: str,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Classical 2×2 epidemiological effect measures with Wald
    log-scale confidence intervals (public: Rothman/Greenland; the
    risk-ratio/odds-ratio readout every cohort study reports — the
    reference's mortality/readmission labels feed exactly this):

        RR = (a/(a+b)) / (c/(c+d)),   OR = (a·d)/(b·c),
        RD = a/(a+b) − c/(c+d)
        ln RR ± z·sqrt(1/a − 1/(a+b) + 1/c − 1/(c+d))   (Katz)
        ln OR ± z·sqrt(1/a + 1/b + 1/c + 1/d)           (Woolf)

    with a,b = exposed outcome/no-outcome and c,d = unexposed.
    ``exposure_col``/``outcome_col`` must be 0/1 ints. Any zero cell
    → the affected CI bounds (and OR for b·c = 0) are NULL rather
    than ±inf, stated plainly instead of a hidden continuity
    correction (apply Haldane-Anscombe upstream if wanted).

    Scale shape: ONE conditional-sum aggregate over the facts → 1 row;
    every double derives from the four exact counts in a pinned
    sequence. Returns ONE row:
    ``(a, b, c, d, rr, rr_lo, rr_hi, or_, or_lo, or_hi, rd)``.
    """
    e, o = F.col(exposure_col).cast("long"), F.col(outcome_col).cast("long")
    t = df.agg(
        F.sum(e * o).cast("long").alias("a"),
        F.sum(e * (1 - o)).cast("long").alias("b"),
        F.sum((1 - e) * o).cast("long").alias("c"),
        F.sum((1 - e) * (1 - o)).cast("long").alias("d"),
    )
    aD, bD = F.col("a").cast("double"), F.col("b").cast("double")
    cD, dD = F.col("c").cast("double"), F.col("d").cast("double")
    r1 = aD / (aD + bD)
    r0 = cD / (cD + dD)
    rr = F.when((F.col("a") > 0) & (F.col("c") > 0), r1 / r0)
    se_rr = F.sqrt(
        F.lit(1.0) / aD - F.lit(1.0) / (aD + bD) + F.lit(1.0) / cD - F.lit(1.0) / (cD + dD)
    )
    orr = F.when(
        (F.col("a") > 0) & (F.col("b") > 0) & (F.col("c") > 0) & (F.col("d") > 0),
        (aD * dD) / (bD * cD),
    )
    se_or = F.sqrt(1.0 / aD + 1.0 / bD + 1.0 / cD + 1.0 / dD)
    zl = F.lit(float(z))
    return t.select(
        "a",
        "b",
        "c",
        "d",
        rr.alias("rr"),
        F.when(rr.isNotNull(), F.exp(F.log(rr) - zl * se_rr)).alias("rr_lo"),
        F.when(rr.isNotNull(), F.exp(F.log(rr) + zl * se_rr)).alias("rr_hi"),
        orr.alias("or_"),
        F.when(orr.isNotNull(), F.exp(F.log(orr) - zl * se_or)).alias("or_lo"),
        F.when(orr.isNotNull(), F.exp(F.log(orr) + zl * se_or)).alias("or_hi"),
        (r1 - r0).alias("rd"),
    )


def concentration_metrics(
    df: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Distribution-concentration readout over per-key totals — the
    three classics in ONE pass (public: Gini 1912 / Lorenz; the
    Herfindahl-Hirschman index of antitrust practice; the "top decile
    share" every revenue review quotes):

        gini = (2·Σ_i i·v_(i)) / (n·Σv) − (n+1)/n     (v ascending)
        hhi  = Σ (v_i / Σv)²                           (0..1 scale)
        top_decile_share = Σ of the ceil(n/10) largest / Σv

    ``value_col`` must be integer-quantized and non-negative (NULL
    values and NULL keys are excluded, complete-case; negative totals
    make Lorenz curves meaningless — raise upstream). Σ i·v is an
    exact decimal sum (rank ties broken by key asc); HHI terms are
    quantized to pico-units (1e-12 — share² of a 1e-6 share is 1e-12,
    micro would zero it) and summed exactly. Every emitted double is a
    single division of exact integers.

    Scale shape: ONE keyed aggregate over the facts; ranks/windows run
    over the |keys| AGGREGATE relation (the rfm/q22 precedent — swap
    in ``sampling.global_prefix_sums`` at extreme key cardinality).
    Returns ONE row: ``(n_keys, total, gini, hhi, top_decile_share)``
    — gini/hhi NULL when total is 0.
    """
    per = (
        df.filter(F.col(key_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(F.col(key_col).alias("__k"))
        .agg(F.sum(F.col(value_col).cast("decimal(38,0)")).alias("__v"))
    )
    w_asc = Window.orderBy(F.col("__v").asc(), F.col("__k").asc())
    w_desc = Window.orderBy(F.col("__v").desc(), F.col("__k").asc())
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = per.select(
        "__v",
        F.row_number().over(w_asc).cast("long").alias("__i"),
        F.row_number().over(w_desc).cast("long").alias("__rd"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("__n"),
        F.sum("__v").over(w_all).alias("__tot"),
    )
    # ANSI guard: a zero grand total must yield NULL metrics, not a
    # divide-by-zero — shares are only evaluated when total > 0
    share = F.col("__v").cast("double") / F.col("__tot").cast("double")
    hhi_term = F.when(
        F.col("__tot") > 0,
        F.floor(share * share * F.lit(1e12) + F.lit(0.5)).cast("long"),
    ).otherwise(F.lit(0))
    agg = ranked.agg(
        F.max("__n").alias("n_keys"),
        F.max("__tot").alias("__total"),
        F.sum(F.col("__i").cast("decimal(38,0)") * F.col("__v")).alias("__iv"),
        F.sum(
            F.when(
                F.col("__rd") <= F.ceil(F.col("__n") / F.lit(10.0)),
                F.col("__v"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("__top"),
        F.sum(hhi_term).cast("long").alias("__hhi_pico"),
    )
    nD = F.col("n_keys").cast("double")
    totD = F.col("__total").cast("double")
    gini = F.when(
        F.col("__total") > 0,
        (F.lit(2.0) * F.col("__iv").cast("double")) / (nD * totD)
        - (nD + F.lit(1.0)) / nD,
    )
    return agg.select(
        "n_keys",
        F.col("__total").cast("long").alias("total"),
        gini.alias("gini"),
        F.when(
            F.col("__total") > 0, F.col("__hhi_pico").cast("double") / F.lit(1e12)
        ).alias("hhi"),
        F.when(
            F.col("__total") > 0,
            F.col("__top").cast("double") / totD,
        ).alias("top_decile_share"),
    )


def welch_t_pairs(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Welch's unequal-variance t statistic for EVERY pair of groups
    (public: Welch 1947; the two-sample location test that does not
    assume equal variances — the parametric sibling of the
    Mann-Whitney U at q181, completing the A/B family next to CUPED
    (q158) and SMD balance (q197)):

        t   = (m1 − m2) / sqrt(v1/n1 + v2/n2)
        dof = (v1/n1 + v2/n2)² /
              ((v1/n1)²/(n1−1) + (v2/n2)²/(n2−1))   (Welch–Satterthwaite)

    ``value_col`` must be integer-quantized (the repo-wide exact-sum
    convention): per-group (n, Σy, Σy²) accumulate exactly in
    decimals, the variance numerator n·Σy² − (Σy)² is an exact integer
    subtraction (no cancellation at any magnitude — the q182 lesson),
    and every emitted double is a fixed IEEE sequence over those exact
    integers, so a SQL twin reproduces t and dof bitwise.

    Scale shape: ONE hash aggregate over the facts to a |groups|-row
    relation, then a broadcast self-join on g1 < g2 — |groups|²/2
    rows, never fact-sized. Returns
    ``(group_a, group_b, n_a, n_b, mean_a, mean_b, t, dof)``;
    t/dof NULL when either group has n < 2 or both variances are 0.
    """
    per = df.groupBy(F.col(group_col).alias("__g")).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(F.col(value_col).cast("decimal(38,0)")).alias("__s"),
        F.sum(
            F.col(value_col).cast("decimal(18,0)")
            * F.col(value_col).cast("decimal(18,0)")
        ).alias("__ss"),
    )
    a = per.select(
        F.col("__g").alias("group_a"),
        F.col("__n").alias("__na"),
        F.col("__s").alias("__sa"),
        F.col("__ss").alias("__ssa"),
    )
    b = per.select(
        F.col("__g").alias("group_b"),
        F.col("__n").alias("__nb"),
        F.col("__s").alias("__sb"),
        F.col("__ss").alias("__ssb"),
    )
    j = a.join(F.broadcast(b), F.col("group_a") < F.col("group_b"))

    def _mv(n, s, ss):
        nD = n.cast("double")
        mean = s.cast("double") / nD
        num = (n.cast("decimal(38,0)") * ss - s * s).cast("double")
        var = F.when(n > 1, num / (nD * (nD - F.lit(1.0))))
        return nD, mean, var

    na, ma, va = _mv(F.col("__na"), F.col("__sa"), F.col("__ssa"))
    nb, mb, vb = _mv(F.col("__nb"), F.col("__sb"), F.col("__ssb"))
    vea = va / na
    veb = vb / nb
    se2 = vea + veb
    t = F.when(se2 > 0, (ma - mb) / F.sqrt(se2))
    dof = F.when(
        se2 > 0,
        (se2 * se2)
        / (vea * vea / (na - F.lit(1.0)) + veb * veb / (nb - F.lit(1.0))),
    )
    return j.select(
        "group_a",
        "group_b",
        F.col("__na").alias("n_a"),
        F.col("__nb").alias("n_b"),
        ma.alias("mean_a"),
        mb.alias("mean_b"),
        t.alias("t"),
        dof.alias("dof"),
    )


def trimmed_mean(
    df: DataFrame,
    group_col: str,
    value_col: str,
    trim_frac: float,
    tie_break: str,
) -> DataFrame:
    """Per-group trimmed mean of an integer-quantized value: drop the
    ``floor(n·trim_frac)`` lowest and highest rows BY RANK, average
    the rest exactly (public: the classic robust location estimator —
    e.g. Tukey; the outlier-resistant sibling of the q16 percentile
    clamp, which winsorizes values instead of dropping rows).

    Rank-based trimming with a ``tie_break`` column makes the kept
    set a deterministic function of the data (a value-threshold trim
    is ambiguous under ties); the kept count is then exactly
    n − 2·floor(n·trim_frac) and the mean is a ratio of exact integer
    sums — order-insensitive, engine-portable. n·trim_frac is one
    IEEE multiply, identical in any engine.

    Scale shape: ONE shuffle on the group, two frames over the same
    sort (rank + per-group count), one aggregate. Returns
    ``(group, n_total, n_kept, trimmed_mean)``; groups whose n is too
    small to keep anything (n − 2·floor(n·p) ≤ 0 never happens for
    p < 0.5; p ≥ 0.5 raises).
    """
    if not (0 <= trim_frac < 0.5):
        raise ValueError("trimmed_mean: trim_frac must be in [0, 0.5)")
    # NULL values out BEFORE ranking: Spark ranks them NULLS FIRST
    # (DuckDB NULLS LAST), so they would displace the real minima from
    # the low trim, stay in the kept set, and deflate the mean (counted
    # in the denominator, skipped by the sum) — the spearman rule
    df = df.filter(F.col(value_col).isNotNull())
    w = Window.partitionBy(group_col).orderBy(
        F.col(value_col).asc(), F.col(tie_break).asc()
    )
    wn = Window.partitionBy(group_col)
    ranked = df.select(
        F.col(group_col).alias("__g"),
        F.col(value_col).cast("long").alias("__y"),
        F.row_number().over(w).alias("__r"),
        F.count(F.lit(1)).over(wn).alias("__n"),
    )
    cut = F.floor(F.col("__n").cast("double") * F.lit(float(trim_frac))).cast(
        "long"
    )
    kept = ranked.filter(
        (F.col("__r") > cut) & (F.col("__r") <= F.col("__n") - cut)
    )
    return kept.groupBy(F.col("__g").alias(group_col)).agg(
        F.max("__n").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        (
            F.sum(F.col("__y").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("trimmed_mean"),
    )


def cmh_pooled_or(
    df: DataFrame,
    stratum_col: str,
    exposure_col: str,
    outcome_col: str,
) -> DataFrame:
    """Cochran–Mantel–Haenszel pooled odds ratio across strata
    (public: Mantel & Haenszel 1959 — the confounder-adjusted 2×2
    readout; the stratified sibling of the crude q198 measures):

        OR_MH = Σ_s (a_s·d_s / n_s)  /  Σ_s (b_s·c_s / n_s)

    with (a, b, c, d) the exposed-case/exposed-control/
    unexposed-case/unexposed-control counts and n the stratum size.

    Portability: each stratum term a·d/n is quantized to integer
    micro-units via EXACT integral arithmetic — ``(a·d·1e6) div n``
    over decimals (products reach a·d·1e6 ≤ 1e24 — far past long,
    inside decimal(38)) — so both Σ terms are exact integer sums and
    OR_MH is one double division. No order-sensitive float sum
    anywhere. Also returns the crude (unstratified) OR so the
    confounding shift is visible in one row.

    Scale shape: ONE conditional aggregate per stratum
    (|strata|-row relation), one total. Returns a single row
    ``(n_strata, or_mh, or_crude)``; NULL OR when a denominator sum
    is 0.
    """
    e = F.col(exposure_col).cast("int")
    y = F.col(outcome_col).cast("int")
    per = df.groupBy(F.col(stratum_col).alias("__s")).agg(
        F.sum(((e == 1) & (y == 1)).cast("long")).alias("__a"),
        F.sum(((e == 1) & (y == 0)).cast("long")).alias("__b"),
        F.sum(((e == 0) & (y == 1)).cast("long")).alias("__c"),
        F.sum(((e == 0) & (y == 0)).cast("long")).alias("__d"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    num_term = F.expr(
        "CAST(__a AS DECIMAL(38,0)) * __d * 1000000 div __n"
    ).cast("long")
    den_term = F.expr(
        "CAST(__b AS DECIMAL(38,0)) * __c * 1000000 div __n"
    ).cast("long")
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum(num_term).alias("__num"),
        F.sum(den_term).alias("__den"),
        F.sum("__a").alias("__ta"),
        F.sum("__b").alias("__tb"),
        F.sum("__c").alias("__tc"),
        F.sum("__d").alias("__td"),
    )
    or_mh = F.when(
        F.col("__den") > 0,
        F.col("__num").cast("double") / F.col("__den").cast("double"),
    )
    crude = F.when(
        (F.col("__tb") > 0) & (F.col("__tc") > 0),
        (F.col("__ta").cast("decimal(38,0)") * F.col("__td")).cast("double")
        / (F.col("__tb").cast("decimal(38,0)") * F.col("__tc")).cast("double"),
    )
    return agg.select("n_strata", or_mh.alias("or_mh"), crude.alias("or_crude"))


def spearman_by_group(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Spearman rank correlation per group (public: Spearman 1904 —
    Pearson over the rank transform; the monotonic-association
    sibling of q177's exact-sum linear fit, robust to outliers and
    nonlinearity).

    Tie handling is the standard AVERAGE rank; to stay in exact
    integers the ranks are DOUBLED (average of two integers × 2 is an
    integer: 2·avg = min_rank + max_rank), which leaves rho invariant
    (Pearson is shift/scale-free). All five sufficient statistics
    (n, Σx, Σy, Σxy, Σx², Σy²) accumulate in decimals — Σxy ≤ n·4n²
    passes long at ~1.3e6 rows/group — and rho is the classic exact
    formula over them, one fixed IEEE sequence.

    Scale shape: ONE shuffle on the group — every window below
    partitions by the group alone (ascending/descending rank pairs
    instead of per-(group, value) tie counts, which would each force
    their own hash exchange; measured 22 s → 17 s at the 20M probe —
    the remaining cost is the four in-partition sorts + exact decimal
    sums, both inherent to exact tie-averaged ranks),
    so the plan is one exchange + four in-partition sorts + one hash
    aggregate to |groups| rows. Returns ``(group, n, rho)``; rho NULL
    for constant columns (zero variance).

    Null convention: rows where x or y is NULL are dropped BEFORE
    ranking (standard pairwise-complete Spearman). This is also what
    keeps the result engine-portable — Spark ranks NULLS FIRST,
    DuckDB NULLS LAST, so un-filtered null rows would silently shift
    every rank and disagree across engines.
    """
    df = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    wg = Window.partitionBy(group_col)
    wxa = Window.partitionBy(group_col).orderBy(F.col(x_col).asc())
    wxd = Window.partitionBy(group_col).orderBy(F.col(x_col).desc())
    wya = Window.partitionBy(group_col).orderBy(F.col(y_col).asc())
    wyd = Window.partitionBy(group_col).orderBy(F.col(y_col).desc())
    n_in_g = F.count(F.lit(1)).over(wg)
    ranked = df.select(
        F.col(group_col).alias("__g"),
        # doubled average rank via the asc/desc identity:
        # 2·avg = rank_asc + (n + 1 − rank_desc)  (exact under ties)
        (F.rank().over(wxa) + n_in_g + F.lit(1) - F.rank().over(wxd)).alias(
            "__dx"
        ),
        (F.rank().over(wya) + n_in_g + F.lit(1) - F.rank().over(wyd)).alias(
            "__dy"
        ),
    )
    dx = F.col("__dx").cast("decimal(18,0)")
    dy = F.col("__dy").cast("decimal(18,0)")
    stats = ranked.groupBy(F.col("__g").alias(group_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dx).alias("__sx"),
        F.sum(dy).alias("__sy"),
        F.sum(dx * dy).alias("__sxy"),
        F.sum(dx * dx).alias("__sxx"),
        F.sum(dy * dy).alias("__syy"),
    )
    nB = F.col("n").cast("decimal(38,0)")
    cov = (nB * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast("double")
    vx = (nB * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast("double")
    vy = (nB * F.col("__syy") - F.col("__sy") * F.col("__sy")).cast("double")
    rho = F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy))
    return stats.select(group_col, "n", rho.alias("rho"))


def exact_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    probs: list[float],
    tie_break: str,
) -> DataFrame:
    """Exact (type-1 / inverse-CDF) percentiles per group: the value
    at rank ``ceil(p·n)`` in (value, tie_break) order — order
    statistics, not interpolation, so the result is an actual data
    value and is bit-identical in any engine (``percentile_approx``
    is a sketch; interpolated percentiles of huge doubles invite
    last-ulp disagreement — the q161 lesson applied to quantiles).

    Scale shape: ONE shuffle on the group, one sort carrying the rank
    and count frames, one conditional aggregate to |groups| rows —
    no per-group collect, no sketch. Emits one column per prob
    (``p10``, ``p50``, ...; prob → name via round(p·100)). Groups
    smaller than 1/min(p) still work (ceil clamps to ≥ 1). NULL values
    are dropped before ranking (``n`` counts non-null rows): Spark
    ranks NULLS FIRST where DuckDB ranks NULLS LAST, so unfiltered
    nulls would shift every percentile target — the spearman rule.
    """
    if not probs or not all(0 < p <= 1 for p in probs):
        raise ValueError("exact_percentiles: probs must be in (0, 1]")
    df = df.filter(F.col(value_col).isNotNull())
    names = [f"p{round(p * 100)}" for p in probs]
    if len(set(names)) != len(names):
        dupes = sorted({n for n in names if names.count(n) > 1})
        raise ValueError(
            "exact_percentiles: probs "
            f"{[p for p, n in zip(probs, names) if n in dupes]} collide to "
            f"the same output column(s) {dupes} under round(p*100) naming; "
            "use probs that differ at whole-percent granularity"
        )
    w = Window.partitionBy(group_col).orderBy(
        F.col(value_col).asc(), F.col(tie_break).asc()
    )
    wn = Window.partitionBy(group_col)
    ranked = df.select(
        F.col(group_col).alias("__g"),
        F.col(value_col).alias("__y"),
        F.row_number().over(w).alias("__r"),
        F.count(F.lit(1)).over(wn).alias("__n"),
    )
    aggs = [F.max("__n").cast("long").alias("n")]
    for p, name in zip(probs, names):
        target = F.greatest(
            F.ceil(F.col("__n").cast("double") * F.lit(float(p))).cast("long"),
            F.lit(1),
        )
        aggs.append(
            F.max(F.when(F.col("__r") == target, F.col("__y"))).alias(name)
        )
    return ranked.groupBy(F.col("__g").alias(group_col)).agg(*aggs)
