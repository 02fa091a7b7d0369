"""Ordered analytics / window operators (SURVEY.md §2.5).

The reference implements every one of these as a python loop over a
pandas ``groupby`` (readmission labels ``day_intervals_cohort.py:136-177``)
or as pandas frame methods on small pivoted frames (``ffill()/bfill()``
``model/data_generation_icu.py:404-412``). Here each is a Spark window
chain: one hash shuffle on the partition key, then whole-stage-codegen'd
sort + frame evaluation — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


def _cols(x: str | list[str]) -> list[str]:
    return [x] if isinstance(x, str) else list(x)


def ffill(df: DataFrame, value_col: str, partition_by: str | list[str],
          order_by: str | list[str], out_col: str | None = None) -> DataFrame:
    """W3 forward fill: ``last(value, ignorenulls=True)`` over an
    unbounded-preceding frame (pandas ``ffill()``,
    ``data_generation_icu.py:404-412``)."""
    w = (
        Window.partitionBy(*_cols(partition_by))
        .orderBy(*_cols(order_by))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(out_col or value_col, F.last(value_col, ignorenulls=True).over(w))


def bfill(df: DataFrame, value_col: str, partition_by: str | list[str],
          order_by: str | list[str], out_col: str | None = None) -> DataFrame:
    """W3 backward fill: ``first(value, ignorenulls=True)`` over the
    following frame (pandas ``bfill()``)."""
    w = (
        Window.partitionBy(*_cols(partition_by))
        .orderBy(*_cols(order_by))
        .rowsBetween(0, Window.unboundedFollowing)
    )
    return df.withColumn(out_col or value_col, F.first(value_col, ignorenulls=True).over(w))


def impute_cascade(
    df: DataFrame,
    value_col: str,
    partition_by: str | list[str],
    order_by: str | list[str],
    strategy: str | None = "mean",
    default: float = 0.0,
) -> DataFrame:
    """T6: the reference's imputation cascade ffill → bfill →
    mean/median-per-group → constant (``data_generation_icu.py:404-412,
    622-630``; ``impute`` ∈ {None, 'Mean', 'Median'}).

    All four stages share the same partitioning, so the whole cascade is
    one shuffle + one sort.

    Faithful-parity note: after UNBOUNDED ffill+bfill over the same
    group, the value is null only when the WHOLE group is null — and
    there the group's mean/median is null too, so stage 3 can never
    fill anything. This mirrors the reference exactly: its per-visit
    ``val.fillna(val.mean())`` runs on a column that is either already
    filled or all-NaN (mean NaN), equally inert, before ``fillna(0)``.
    The stage is therefore VALIDATED but not executed — same output,
    one window aggregate cheaper; the semantic knob that matters is
    ``default``.
    """
    parts = _cols(partition_by)
    out = ffill(df, value_col, parts, order_by)
    out = bfill(out, value_col, parts, order_by)
    if strategy and strategy.lower() not in ("mean", "median"):
        raise ValueError(f"unknown impute strategy: {strategy}")
    return out.na.fill({value_col: default})


def first_row_per_group(
    df: DataFrame, partition_by: str | list[str], order_by: list[Column]
) -> DataFrame:
    """W7: deterministic ``.iloc[0]``-per-group
    (``data_generation_icu.py:453,459-460``) — ``row_number()==1`` with a
    total order (callers must include a tie-break column)."""
    w = Window.partitionBy(*_cols(partition_by)).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def topk_per_group(
    df: DataFrame, partition_by: str | list[str], order_by: list[Column], k: int
) -> DataFrame:
    """W6: top-k per group (``value_counts().index[:max_features]``,
    ``icu_preprocess_util.py:306,312``) via ``row_number() <= k``."""
    w = Window.partitionBy(*_cols(partition_by)).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def label_readmission(
    visits: DataFrame,
    subject_col: str = "subject_id",
    admit_col: str = "admittime",
    disch_col: str = "dischtime",
    gap_days: int = 30,
    label_col: str = "label",
) -> DataFrame:
    """J8/W2: readmission lookahead labeling.

    Reference: ``partition_by_readmit`` (``day_intervals_cohort.py:136-177``)
    loops visits per subject and labels a visit 1 iff another admission
    starts after this discharge and within ``gap_days`` of it. Any such
    admission is automatically *later* in admit order (admit₂ > disch₁ ≥
    admit₁), so the loop is exactly an EXISTS over a per-subject range
    self-join (property-tested against a brute-force loop in
    tests/test_cohort_pipeline.py, including overlapping visits).
    """
    later = visits.select(
        F.col(subject_col).alias("__rs"), F.col(admit_col).alias("__radmit")
    )
    cond = (
        (F.col(subject_col) == F.col("__rs"))
        & (F.col("__radmit") > F.col(disch_col))
        & (
            (F.unix_timestamp("__radmit") - F.unix_timestamp(disch_col))
            <= gap_days * 86400
        )
    )
    pos = visits.join(later, on=cond, how="left_semi").withColumn(
        label_col, F.lit(1).cast("int")
    )
    neg = visits.join(later, on=cond, how="left_anti").withColumn(
        label_col, F.lit(0).cast("int")
    )
    return pos.unionByName(neg)


def sessionize(
    df: DataFrame,
    partition_by: str | list[str],
    ts_col: str,
    gap_seconds: int,
    session_col: str = "session_id",
    tie_break: str | None = None,
) -> DataFrame:
    """Gap-based sessionization (scale extension; not in the reference).

    ``lag`` + cumulative sum of gap-breaks per key — one shuffle.
    """
    parts = _cols(partition_by)
    order = [F.col(ts_col).asc()]
    if tie_break:
        order.append(F.col(tie_break).asc())
    w = Window.partitionBy(*parts).orderBy(*order)
    prev_ts = F.lag(ts_col).over(w)
    is_break = (
        prev_ts.isNull()
        | ((F.unix_timestamp(ts_col) - F.unix_timestamp(prev_ts)) > gap_seconds)
    ).cast("long")
    wsum = (
        Window.partitionBy(*parts)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(session_col, F.sum(is_break).over(wsum))


def _funnel_reach(
    events: DataFrame,
    stages: list[str],
    user_col: str,
    ts_col: str,
    type_col: str,
) -> DataFrame:
    """Shared funnel recurrence as one lazy relation: one row per user
    with a funnel-typed event, ``(__u, __stages)``; ``__stages[i]`` is
    ``(stage_idx, stage, reach_ts, __d)``, the user's earliest
    qualifying stage-i time and whether it reached stage i.

    ``r0 = min(ts WHERE type = s0)`` and, for i ≥ 1,
    ``r_i = min(ts WHERE type = s_i AND ts >= r_{i-1})``: unbounded
    windows chained over ONE hash partitioning on the user, which the
    closing ``groupBy(user)`` reuses. A null ts gives no reach time and
    ``>=`` keeps the same-timestamp boundary. As in the oracles' CTE
    chain, stage 0 counts every user with a stage-0 event, even one
    whose times are all null, and a null user reaches stage 0 only.

    Scale shape: that of :func:`transition_matrix` — every funnel-typed
    event is shuffled once by user and the window buffers spill; no
    per-user state is broadcast, pinned or collected. The shuffle costs
    more bytes than per-stage joins against pinned frontiers did (q153
    at sf0.02: 0.25 MB against 0.09 MB) and saves their eager jobs.
    """
    if not stages:
        raise ValueError("stages must be non-empty")
    if len(set(stages)) != len(stages):
        raise ValueError("stages must be distinct")
    w = Window.partitionBy("__u")
    ev = events.select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__ts"),
        F.col(type_col).alias("__t"),
    ).filter(F.col("__t").isin(stages))
    for i, s in enumerate(stages):
        hit = F.col("__t") == s
        if i:
            hit = hit & (F.col("__ts") >= F.col(f"__r{i - 1}")) & F.col("__u").isNotNull()
        ev = ev.withColumn(f"__r{i}", F.min(F.when(hit, F.col("__ts"))).over(w))
    reach = [F.max(f"__r{i}") for i in range(len(stages))]
    reached = [F.max(F.col("__t") == stages[0])] + [r.isNotNull() for r in reach[1:]]
    per_stage = [
        F.struct(
            F.lit(i + 1).cast("long").alias("stage_idx"),
            F.lit(s).alias("stage"),
            reach[i].alias("reach_ts"),
            reached[i].alias("__d"),
        )
        for i, s in enumerate(stages)
    ]
    return ev.groupBy("__u").agg(F.array(*per_stage).alias("__stages"))


def funnel_conversion(
    events: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel analysis: how many users reached each stage IN
    ORDER (stage i+1 counted only from events at-or-after the user's
    earliest qualifying stage-i time). The product-analytics classic
    next to retention (q148); the ordered-sequence semantics match
    the windowFunnel model popularized by ClickHouse/Amplitude.

    Unordered per-stage mins would over- or under-count: a user whose
    only pre-signup clicks precede their signup must NOT convert, while
    one with clicks both before and after must — only the sequential
    earliest-qualifying-time recurrence gets both right.

    Scale shape: the per-user reach relation of ``_funnel_reach`` (one
    hash shuffle of the funnel-typed events by user, chained windows)
    and one global count aggregate over it; the ``len(stages)`` output
    rows are an ``inline`` of that aggregate. Lazy: calling this starts
    no job.

    Returns ``(stage_idx, stage, users, pct_of_first, pct_of_prev)``
    with 6dp-rounded ratios; the first stage's pct_of_prev is 1.0.
    """
    from mimic_iv_data_pipeline_spark.functions.rounding import dround

    reach = _funnel_reach(events, stages, user_col, ts_col, type_col)
    c = [F.col(f"__c{i}") for i in range(len(stages))]

    def ratio(num: Column, den: Column) -> Column:
        return F.when(den != 0, num / den).otherwise(F.lit(0.0))

    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).cast("long").alias("stage_idx"),
                F.lit(s).alias("stage"),
                c[i].alias("users"),
                ratio(c[i], c[0]).alias("__pf"),
                (ratio(c[i], c[i - 1]) if i else F.lit(1.0)).alias("__pp"),
            )
            for i, s in enumerate(stages)
        ]
    )
    counts = reach.agg(
        *[F.count_if(F.col("__stages")[i]["__d"]).alias(f"__c{i}") for i in range(len(stages))]
    )
    return counts.select(F.inline(rows)).select(
        "stage_idx",
        "stage",
        "users",
        dround(F.col("__pf"), 6).alias("pct_of_first"),
        dround(F.col("__pp"), 6).alias("pct_of_prev"),
    )


def funnel_times(
    events: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-user funnel reach times: one row per (user, completed
    stage) with the earliest qualifying time of that stage — the
    row-level relation behind :func:`funnel_conversion`'s counts,
    for time-to-convert analyses (median lag between stages, cohort
    comparisons).

    Same recurrence, same scale shape (shared ``_funnel_reach``): an
    ``inline`` of each user's reached stages, still hash-partitioned
    by user, so a per-user window over the output adds no exchange.
    Output ``(user_col, stage_idx, stage, reach_ts)``; users appear
    once per stage they completed.
    """
    return (
        _funnel_reach(events, stages, user_col, ts_col, type_col)
        .select(F.col("__u").alias(user_col), F.inline("__stages"))
        .filter(F.col("__d"))
        .drop("__d")
    )


def transition_matrix(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tie_break: str | None = None,
) -> DataFrame:
    """First-order Markov transition estimates over per-user event
    sequences: for each ordered pair of consecutive events,
    ``P(next | current) = n(current→next) / Σ_next n(current→·)``
    (the path-analysis / clickstream classic; MLE of the Markov chain).

    Scale shape: ONE lag window partitioned by user (the sequence
    order needs a total order — ``tie_break`` joins the sort key for
    same-timestamp events) + one (from, to) count aggregate; the
    row-sum normalizer is a window over the |states|² count relation,
    not the facts. Returns ``(from_state, to_state, n, prob)``,
    unrounded.
    """
    order = [F.col(ts_col).asc()]
    if tie_break:
        order.append(F.col(tie_break).asc())
    w = Window.partitionBy(user_col).orderBy(*order)
    pairs = (
        events.withColumn("__next", F.lead(type_col).over(w))
        .filter(F.col("__next").isNotNull())
        .groupBy(
            F.col(type_col).alias("from_state"),
            F.col("__next").alias("to_state"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wf = Window.partitionBy("from_state")
    return pairs.withColumn(
        "prob", F.col("n") / F.sum("n").over(wf)
    )


def rolling_window(
    df: DataFrame,
    partition_by: str | list[str],
    ts_col: str,
    exprs: dict[str, Column],
    window_seconds: int,
) -> DataFrame:
    """Event-time rolling aggregates: each aggregate in ``exprs`` is
    evaluated over the trailing ``window_seconds`` RANGE frame ending
    at the current row (the "30-day rolling revenue per customer"
    classic; scale extension — the reference's pandas equivalent is
    ``rolling()`` over small pivoted frames).

    Scale shape: ONE hash shuffle on the partition key, then a sorted
    RANGE frame per partition — peers (equal timestamps) enter the
    frame together in both Spark and ANSI SQL, so the semantics are
    engine-portable. Spark evaluates bounded sliding frames by
    re-aggregating the frame buffer per row (O(rows_in_window) per
    row); for windows spanning millions of rows per key, pre-bucket to
    coarse grains (``bucketize_events``) and roll over bucket
    partials instead — same pattern as ``incremental_rollup``.

    Float caution: rolling SUM over doubles is order-sensitive across
    engines; callers that need exact hash-compare should aggregate
    integer-scaled values (see q171's cents-as-long convention).
    """
    parts = [partition_by] if isinstance(partition_by, str) else partition_by
    w = (
        Window.partitionBy(*parts)
        .orderBy(F.unix_timestamp(F.col(ts_col)).cast("long"))
        .rangeBetween(-window_seconds, 0)
    )
    return df.select("*", *[e.over(w).alias(n) for n, e in exprs.items()])


def ewma(
    df: DataFrame,
    partition_by: str | list[str],
    ts_col: str,
    value_col: str,
    alpha: float,
    tie_break: str | None = None,
    out_col: str = "ewma",
) -> DataFrame:
    """Per-key exponentially-weighted moving average with the exact
    recursion ``e_t = alpha*x_t + (1-alpha)*e_{t-1}`` (``e_0 = x_0``)
    evaluated at every row — the smoothing/monitoring classic that no
    plain window frame can express (the weight depends on the distance
    to every predecessor).

    Implementation: per-key ``applyInPandas`` — ONE shuffle on the
    key, each key's series Arrow-batched into a pandas frame, sorted
    by (ts, tie_break), and the recursion applied by an explicit
    Python float loop that performs EXACTLY the op sequence
    ``a*x + (1-a)*e_prev`` on IEEE doubles — identical to any engine's
    ordered scan, so results are bitwise engine-portable (q173
    exploits this with a recursive-CTE DuckDB twin; pick an alpha
    exactly representable in binary, e.g. 0.25, so ``1-alpha`` agrees
    across engines too). Supply ``tie_break`` whenever (key, ts) is
    not unique — ties beyond it are resolved arbitrarily.

    NULL contract (matches SQL's NULL-absorbing arithmetic, r6 ADVICE
    fix): a NULL value emits NULL and poisons every LATER row of the
    same key — exactly what the recursive-CTE twin computes. NaN
    inputs are indistinguishable from NULL after the Arrow transfer
    and follow the same rule.

    Why Python here and not a JVM fold: the recursion's weight on
    every predecessor rules out window frames, and a Catalyst
    ``aggregate`` fold building the trace is BOTH interpreted (never
    enters codegen — the PERF.md lambda trap) and O(n²) per key
    (immutable-array append copies the accumulator per element; the
    r5 version took minutes on a single 100k-point key). The
    Arrow-batched loop is O(n) with a tiny constant — the documented
    "UDFs are the slow path" exception where built-ins genuinely
    cannot express the semantics.

    Grouping is by HASH BUCKET of the key (4 ×
    ``spark.sql.shuffle.partitions`` buckets), not by the key itself: per-group
    ``applyInPandas`` overhead (~100µs of pandas-frame setup per
    call) dominates when keys number in the hundreds of thousands
    with short series — bucketing amortizes it to one Arrow frame per
    bucket, and the single loop resets state at key boundaries, so
    semantics are identical (all rows of a key hash to one bucket by
    construction). Memory bound: one BUCKET (≈|rows|/buckets plus
    every row of any single key) must fit in one Python worker —
    raise the shuffle partitions with data size; re-key a single epic
    global series by (key, epoch) and chain epoch boundaries if needed.
    """
    parts = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    sort_cols = parts + [ts_col] + ([tie_break] if tie_break else [])
    a = float(alpha)
    one_minus_a = 1.0 - a
    n_buckets = 4 * int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.DoubleType())]
    )
    value = value_col
    key_cols = list(parts)

    def fn(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.drop(columns="__ewma_b").sort_values(
            # NULLS FIRST (na_position) matches the SQL twins' ASC
            # default — pandas' default 'last' would process a NULL-ts
            # row at the other end of the key and desync every e-value
            sort_cols, kind="mergesort", na_position="first"
        ).reset_index(drop=True)
        x = pdf[value].to_numpy(dtype="float64", na_value=float("nan"))
        n = len(x)
        # new-key marker: True where any key column differs from the
        # previous row (vectorized; the loop below only resets state)
        new_key = np.ones(n, dtype=bool)
        if n > 1:
            same = np.ones(n - 1, dtype=bool)
            for k in key_cols:
                cur = pdf[k].iloc[1:].reset_index(drop=True)
                prv = pdf[k].iloc[:-1].reset_index(drop=True)
                # null-safe equality: NULL keys form one group, as in
                # Spark's groupBy
                same &= ((cur == prv) | (cur.isna() & prv.isna())).to_numpy()
            new_key[1:] = ~same
        e = np.empty(n, dtype="float64")
        prev = 0.0
        for i in range(n):
            xi = float(x[i])
            prev = xi if new_key[i] else a * xi + one_minus_a * prev
            e[i] = prev
        # NULL parity with the SQL recursion: a NULL value arrives here
        # as NaN (Arrow double transfer) and the loop propagates it to
        # every later row of the key — exactly the shape SQL's
        # NULL-absorbing arithmetic produces, but SQL emits NULL where
        # the float loop holds NaN. pd.array(..., dtype="Float64")
        # converts NaN cells to NA, restoring NULL so the bitwise
        # engine-portability contract covers null inputs; the plain
        # float64 column is kept when there is nothing to mask.
        pdf[out_col] = (
            pd.array(e, dtype="Float64") if np.isnan(e).any() else e
        )
        return pdf

    bucketed = df.withColumn(
        "__ewma_b",
        F.pmod(F.xxhash64(*[F.col(p) for p in parts]), F.lit(int(n_buckets))),
    )
    return bucketed.groupBy("__ewma_b").applyInPandas(fn, schema=out_schema)


def cusum(
    df: DataFrame,
    partition_by: str | list[str],
    ts_col: str,
    value_col: str,
    target,
    tie_break: str | None = None,
    out_col: str = "cusum_plus",
) -> DataFrame:
    """One-sided upward CUSUM change detection:
    ``S_t = max(0, S_{t-1} + (x_t - target))`` per key, computed
    WITHOUT a recurrence via the prefix identity
    ``S_t = P_t - min(0, min_{j<=t} P_j)`` where ``P`` is the running
    sum of deviations (Page 1954's classic, restated as two ordered
    window passes).

    Scale shape: one shuffle on the key, two sequential window frames
    (running sum, then running min over it) — O(n) per partition, no
    fold, no self-join; unlike :func:`ewma` this streams, so a single
    key's series can be arbitrarily long. Feed integer-scaled values
    (micro-units) for exact cross-engine hash compares.
    """
    parts = [partition_by] if isinstance(partition_by, str) else partition_by
    order = [F.col(ts_col).asc()]
    if tie_break:
        order.append(F.col(tie_break).asc())
    w = Window.partitionBy(*parts).orderBy(*order)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    prefixed = df.withColumn(
        "__p", F.sum(F.col(value_col) - F.lit(target)).over(run)
    )
    w2 = Window.partitionBy(*parts).orderBy(*order)
    return prefixed.withColumn(
        out_col,
        F.col("__p")
        - F.least(
            F.lit(0).cast(prefixed.schema["__p"].dataType),
            F.min("__p").over(w2.rowsBetween(Window.unboundedPreceding, 0)),
        ),
    ).drop("__p")


def holt_linear(
    df: DataFrame,
    partition_by: str | list[str],
    ts_col: str,
    value_col: str,
    alpha: float,
    beta: float,
    tie_break: str | None = None,
) -> DataFrame:
    """Per-key Holt double exponential smoothing (level + trend) with
    the exact recursion (public: Holt 1957; ``statsmodels``
    ``Holt(initialization_method='known', initial_level=x_0,
    initial_trend=0)`` semantics):

        l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1}),    l_0 = x_0
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1},    b_0 = 0

    The trend-aware sibling of :func:`ewma`, for drifting series where
    a single-state EWMA lags systematically. Same engine-portability
    contract: the recursion is applied sequentially in (ts, tie_break)
    order with EXACTLY the op sequence above on IEEE doubles, so it
    matches any engine's ordered scan — pick α/β exactly representable
    in binary (0.5, 0.25) and a recursive-CTE SQL twin reproduces
    every double bitwise. Supply ``tie_break`` whenever (key, ts) is
    not unique. NULL contract as in :func:`ewma`: a NULL value sends
    level/forecast (and, one step later, trend) NULL for the rest of
    the key — SQL parity; ``trend`` stays 0.0 on the first row of a
    NULL-leading key because ``b_0`` is the literal 0.

    Implementation/scale bound: identical to :func:`ewma` —
    hash-bucketed ``applyInPandas`` (one Arrow frame per bucket, a
    single O(n) Python loop carrying (level, trend) and resetting at
    key boundaries; replaces the r5 Catalyst ``aggregate`` fold,
    which was interpreted AND O(n²) per key from immutable-array
    append copies). One BUCKET must fit in one Python worker's
    memory; raise the shuffle partitions with data size, re-key epic
    series by (key, epoch) and chain.

    Output adds ``level``, ``trend``, and ``forecast`` (= level +
    trend, the one-step-ahead prediction) to the carried columns.
    """
    parts = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    sort_cols = parts + [ts_col] + ([tie_break] if tie_break else [])
    a, b = float(alpha), float(beta)
    one_minus_a, one_minus_b = 1.0 - a, 1.0 - b
    n_buckets = 4 * int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("level", T.DoubleType()),
            T.StructField("trend", T.DoubleType()),
            T.StructField("forecast", T.DoubleType()),
        ]
    )
    value = value_col
    key_cols = list(parts)

    def fn(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.drop(columns="__holt_b").sort_values(
            sort_cols, kind="mergesort", na_position="first"  # see ewma
        ).reset_index(drop=True)
        x = pdf[value].to_numpy(dtype="float64", na_value=float("nan"))
        n = len(x)
        new_key = np.ones(n, dtype=bool)
        if n > 1:
            same = np.ones(n - 1, dtype=bool)
            for k in key_cols:
                cur = pdf[k].iloc[1:].reset_index(drop=True)
                prv = pdf[k].iloc[:-1].reset_index(drop=True)
                same &= ((cur == prv) | (cur.isna() & prv.isna())).to_numpy()
            new_key[1:] = ~same
        lv = np.empty(n, dtype="float64")
        tr = np.empty(n, dtype="float64")
        level = trend = 0.0
        for i in range(n):
            xi = float(x[i])
            if new_key[i]:
                level, trend = xi, 0.0
            else:
                nl = a * xi + one_minus_a * (level + trend)
                trend = b * (nl - level) + one_minus_b * trend
                level = nl
            lv[i], tr[i] = level, trend
        fc = lv + tr
        # NULL parity with the SQL recursion (see ewma): NULL inputs
        # arrive as NaN and poison the state exactly as SQL NULLs do —
        # pd.array's NaN→NA conversion restores NULL per column (trend
        # stays 0.0, non-null, on a key whose FIRST value is NULL: b_0
        # is the literal 0 in the recursion, so SQL agrees).
        for name, arr in (("level", lv), ("trend", tr), ("forecast", fc)):
            pdf[name] = (
                pd.array(arr, dtype="Float64") if np.isnan(arr).any() else arr
            )
        return pdf

    bucketed = df.withColumn(
        "__holt_b",
        F.pmod(F.xxhash64(*[F.col(p) for p in parts]), F.lit(int(n_buckets))),
    )
    return bucketed.groupBy("__holt_b").applyInPandas(fn, schema=out_schema)


def attribute_revenue(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    value_col: str,
    conversion_type: str,
    channel_types: list[str],
    lookback_seconds: int,
    tie_break: str,
) -> DataFrame:
    """Multi-touch revenue attribution over the event log (public: the
    standard marketing-attribution models — first-touch, last-touch,
    and linear — e.g. the GA4 / Adjust model definitions): every
    conversion's revenue is credited to the channel touchpoints the
    same user produced within the lookback window ending at (and
    including ties with) the conversion.

    Per conversion c with touch set T(c):
      * first-touch: all revenue to the earliest touch (ties:
        ``tie_break`` asc),
      * last-touch: all to the latest touch (ties: tie_break desc),
      * linear: revenue/|T(c)| to every touch — each touch's share is
        quantized to integer micro-cents (floor(cents·1e6/n + 0.5 is
        NOT used: the exact rational cents·1e6 div n keeps the sum
        bounded by the revenue) BEFORE the per-channel sum, so channel
        totals are exact integer sums, order-insensitive.

    Conversions with NO touch in window are emitted under channel
    ``'(unattributed)'`` so revenue is conserved: for every model the
    output column sums to the total converted revenue in micro-cents
    (a test pins this conservation).

    Scale shape: conversions ⨝ touches is an equi-join on the user
    plus a residual time-range predicate (the pit_join/asof shape —
    per-user candidate sets, no cross join); the first/last picks are
    one row_number window over the per-conversion candidates; channel
    totals are one aggregate. ``value_col`` must be integer-quantized
    cents.

    Returns ``(channel, n_first, n_last, first_micro, last_micro,
    linear_micro)``.
    """
    u, t = F.col("__u"), F.col("__ts")
    conv = events.filter(F.col(type_col) == conversion_type).select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__cts"),
        F.col(value_col).alias("__cents"),
        F.col(tie_break).alias("__cid"),
    )
    touch = events.filter(F.col(type_col).isin(list(channel_types))).select(
        F.col(user_col).alias("__tu"),
        F.col(ts_col).alias("__ts"),
        F.col(type_col).alias("__ch"),
        F.col(tie_break).alias("__tid"),
    )
    # The window predicate must live IN the join condition: a plain
    # left join + post-filter silently drops every conversion whose
    # only touches are out of window (caught by the conservation
    # smoke), where the in-join residual correctly leaves a NULL-touch
    # row for it.
    cand = conv.join(
        touch,
        (F.col("__u") == F.col("__tu"))
        & (F.col("__ts") <= F.col("__cts"))
        & (
            F.unix_micros(F.col("__ts"))
            > F.unix_micros(F.col("__cts"))
            - F.lit(int(lookback_seconds) * 1_000_000)
        ),
        "left",
    )
    # no-touch (or no in-window-touch) conversions: __ts stays NULL
    per_conv = Window.partitionBy("__u", "__cid")
    wf = Window.partitionBy("__u", "__cid").orderBy(
        F.col("__ts").asc_nulls_last(), F.col("__tid").asc()
    )
    wl = Window.partitionBy("__u", "__cid").orderBy(
        F.col("__ts").desc_nulls_last(), F.col("__tid").desc()
    )
    marked = cand.select(
        "__u",
        "__cid",
        "__cents",
        F.coalesce(F.col("__ch"), F.lit("(unattributed)")).alias("channel"),
        F.count("__ts").over(per_conv).alias("__nt"),
        F.row_number().over(wf).alias("__rf"),
        F.row_number().over(wl).alias("__rl"),
    )
    cents_micro = F.col("__cents").cast("decimal(38,0)") * 1_000_000
    linear_micro = F.when(
        F.col("__nt") > 0,
        # exact integral division: each touch gets floor(micro/n); the
        # first touch absorbs the remainder so revenue is conserved.
        # The ×1e6 runs in decimal like the first/last path — a raw
        # integer multiply overflows IntegerType cents (ANSI crash /
        # silent wrap breaking the conservation invariant)
        F.expr(
            "(cast(__cents AS decimal(38,0)) * 1000000) div __nt"
        )
        + F.when(
            F.col("__rf") == 1,
            F.expr("(cast(__cents AS decimal(38,0)) * 1000000) % __nt"),
        ).otherwise(F.lit(0)),
    ).otherwise(cents_micro)
    return (
        marked.select(
            "channel",
            F.when(F.col("__rf") == 1, 1).otherwise(0).alias("__isf"),
            F.when(F.col("__rl") == 1, 1).otherwise(0).alias("__isl"),
            (F.when(F.col("__rf") == 1, cents_micro).otherwise(F.lit(0))).alias(
                "__fm"
            ),
            (F.when(F.col("__rl") == 1, cents_micro).otherwise(F.lit(0))).alias(
                "__lm"
            ),
            linear_micro.alias("__lin"),
        )
        .groupBy("channel")
        .agg(
            F.sum("__isf").cast("long").alias("n_first"),
            F.sum("__isl").cast("long").alias("n_last"),
            F.sum("__fm").cast("long").alias("first_micro"),
            F.sum("__lm").cast("long").alias("last_micro"),
            F.sum("__lin").cast("long").alias("linear_micro"),
        )
    )


def forecast_backtest(
    df: DataFrame,
    partition_by: str | list[str],
    ts_col: str,
    value_col: str,
    alpha: float,
    beta: float,
    season: int = 7,
    tie_break: str | None = None,
) -> DataFrame:
    """One-step-ahead backtest of the :func:`holt_linear` forecast
    against the seasonal-naive baseline (public: the standard forecast
    accuracy protocol of Hyndman & Koehler 2006 — sMAPE and MASE,
    where MASE scales the model's error by the in-sample seasonal-naive
    error, the denominator that makes accuracy comparable across
    series):

        forecast(t) predicts y(t+1);  naive(t+1) = y(t+1−season)
        sMAPE = mean_t  2·|f−a| / (|f|+|a|)
        MASE  = Σ|f−a|  /  Σ|a(t) − a(t−season)|

    Per-row terms are quantized to integer micro-units before the
    per-key sums (the roc_pr recipe), so every reported double is a
    ratio of exact integer sums — order-insensitive, engine-portable.
    Evaluation rows are the timesteps where BOTH the model forecast
    and the seasonal-naive reference exist (t > season), so sMAPE and
    MASE cover the identical evaluation set.

    Scale shape: the holt fold's one key shuffle + two lag/lead
    windows on the same key ordering + one aggregate. ``value_col``
    must be integer-quantized. Returns one row per key:
    ``(key…, n_evals, model_abs_err_micro, naive_abs_err_micro,
    smape, mase)`` — mase NULL when the naive error sum is 0
    (constant seasonal series).
    """
    parts = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    h = holt_linear(df, parts, ts_col, value_col, alpha, beta, tie_break=tie_break)
    order = [F.col(ts_col).asc()]
    if tie_break:
        order.append(F.col(tie_break).asc())
    w = Window.partitionBy(*parts).orderBy(*order)
    stepped = h.select(
        *parts,
        F.col(value_col).cast("double").alias("__a"),
        F.lag("forecast", 1).over(w).alias("__f"),
        F.lag(F.col(value_col).cast("double"), season).over(w).alias("__nv"),
    ).filter(F.col("__f").isNotNull() & F.col("__nv").isNotNull())
    err_m = F.floor(F.abs(F.col("__f") - F.col("__a")) * F.lit(1e6) + F.lit(0.5)).cast(
        "long"
    )
    err_n = F.floor(F.abs(F.col("__nv") - F.col("__a")) * F.lit(1e6) + F.lit(0.5)).cast(
        "long"
    )
    # forecast == actual == 0: the term is defined as 0 (the standard
    # sMAPE convention) — an unguarded /0 crashes under ANSI mode and
    # only "worked" non-ANSI via an accidental NaN→long-as-0 coercion
    denom = F.abs(F.col("__f")) + F.abs(F.col("__a"))
    smape_term = F.when(
        denom > 0,
        F.floor(
            F.lit(2.0)
            * F.abs(F.col("__f") - F.col("__a"))
            / denom
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    agg = stepped.groupBy(*parts).agg(
        F.count(F.lit(1)).cast("long").alias("n_evals"),
        F.sum(err_m).cast("long").alias("model_abs_err_micro"),
        F.sum(err_n).cast("long").alias("naive_abs_err_micro"),
        F.sum(smape_term).cast("long").alias("__smape_sum"),
    )
    return agg.select(
        *parts,
        "n_evals",
        "model_abs_err_micro",
        "naive_abs_err_micro",
        (
            F.col("__smape_sum").cast("double")
            / F.col("n_evals").cast("double")
            / F.lit(1e6)
        ).alias("smape"),
        F.when(
            F.col("naive_abs_err_micro") > 0,
            F.col("model_abs_err_micro").cast("double")
            / F.col("naive_abs_err_micro").cast("double"),
        ).alias("mase"),
    )
