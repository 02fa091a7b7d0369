"""Data profiling and declarative expectation validation.

The reference pipeline's data-quality surface is ad-hoc: per-column
``df.isna().sum()`` / ``nunique()`` passes scattered through
``feature_selection_hosp.py`` and the notebooks, and implicit schema
assumptions that fail deep inside a join when violated. A
warehouse-shaped engine makes both first-class:

* ``profile_table`` — one narrow aggregate pass producing per-column
  stats (rows, nulls, distincts, min/max, mean), the `dbt`-style
  profile / ``ANALYZE TABLE`` shape;
* ``validate_expectations`` — a declarative rule list (not_null,
  unique, accepted_values, in_range, foreign_key) evaluated as plain
  aggregates/anti-joins, returning one violation-count row per rule —
  the Great Expectations / dbt-test shape, without the framework.

Both are pure DataFrame plans: no UDFs, no collect, and the profile is
a SINGLE aggregate over one scan regardless of column count.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType
from pyspark.sql.window import Window

from mimic_iv_data_pipeline_spark.functions.rounding import dround


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
) -> DataFrame:
    """Per-column profile: one row per column with
    ``(column, data_type, n_rows, n_nulls, n_distinct, min_value,
    max_value, mean_value)``. min/max are rendered as strings so one
    schema covers heterogeneous columns; mean is NULL for non-numerics.

    Rendering caveat for oracle twins: double min/max go through
    Spark's ``cast(string)``, which switches to scientific notation at
    |x| >= 1e7 while DuckDB's ``CAST(... AS VARCHAR)`` does not — a
    profile twin over larger-magnitude doubles must mirror the
    rendering (or exclude those columns from the hash compare); q140
    stays under the boundary by construction.

    ``n_distinct`` is exact ``count(DISTINCT col)`` — Catalyst plans
    the multi-distinct aggregate via EXPAND (one scan, rows multiplied
    by the distinct-column count before the partial aggregate).
    Everything else (nulls, min/max, mean, count) is plain partial
    aggregation.

    The wide 1-row aggregate is unpivoted to one-row-per-column with a
    literal struct array + explode — driver-side plan construction
    only, no second pass.
    """
    cols = columns if columns is not None else df.columns
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"profile columns not in input: {missing}")
    if not cols:
        raise ValueError("profile_table requires at least one column")

    types = {f.name: f.dataType for f in df.schema.fields}

    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"__dist_{c}"))
        aggs.append(F.min(F.col(c)).cast("string").alias(f"__min_{c}"))
        aggs.append(F.max(F.col(c)).cast("string").alias(f"__max_{c}"))
        if isinstance(types[c], NumericType):
            aggs.append(dround(F.avg(F.col(c)), 6).alias(f"__mean_{c}"))
        else:
            aggs.append(F.lit(None).cast("double").alias(f"__mean_{c}"))

    wide = df.agg(*aggs)

    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.lit(types[c].simpleString()).alias("data_type"),
                F.col("__n_rows").alias("n_rows"),
                F.col(f"__nulls_{c}").cast("long").alias("n_nulls"),
                F.col(f"__dist_{c}").cast("long").alias("n_distinct"),
                F.col(f"__min_{c}").alias("min_value"),
                F.col(f"__max_{c}").alias("max_value"),
                F.col(f"__mean_{c}").alias("mean_value"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(per_col).alias("p")).select("p.*")


@dataclass(frozen=True)
class Expectation:
    """One declarative data-quality rule.

    kind ∈ {'not_null', 'unique', 'accepted_values', 'in_range',
    'matches_regex', 'foreign_key'}. ``cols`` is the checked column(s);
    ``values`` feeds accepted_values, ``lo``/``hi`` feed in_range
    (inclusive; either may be None for a one-sided bound), ``pattern``
    feeds matches_regex (keep patterns RE2-portable — character
    classes/anchors/alternation — so the same rule runs on any engine;
    NULLs are not violations, pair with not_null to forbid them), and
    ``ref``/``ref_cols`` feed foreign_key (NULL foreign keys are not
    violations, per SQL FK semantics)."""

    kind: str
    cols: tuple[str, ...]
    values: tuple = ()
    lo: object = None
    hi: object = None
    pattern: str = ""
    ref: DataFrame | None = field(default=None, compare=False)
    ref_cols: tuple[str, ...] = ()

    @property
    def name(self) -> str:
        return f"{self.kind}({','.join(self.cols)})"


def expectation_row_violation(r: Expectation):
    """Row-level violation predicate for ROW-LOCAL rule kinds (the
    quarantine path needs per-row decisions, not just counts); returns
    None for set-level kinds (unique, foreign_key), which cannot be
    decided row-locally. The expressions are the single source of
    truth shared with validate_expectations' conditional sums. Every
    returned predicate is non-null for any input (safe under & / ~).
    """
    if r.kind == "not_null":
        (c,) = r.cols
        return F.col(c).isNull()
    if r.kind == "accepted_values":
        (c,) = r.cols
        return (~F.col(c).isin(list(r.values))) & F.col(c).isNotNull()
    if r.kind == "in_range":
        (c,) = r.cols
        bad = F.lit(False)
        if r.lo is not None:
            bad = bad | (F.col(c) < F.lit(r.lo))
        if r.hi is not None:
            bad = bad | (F.col(c) > F.lit(r.hi))
        return bad & F.col(c).isNotNull()
    if r.kind == "matches_regex":
        (c,) = r.cols
        if not r.pattern:
            raise ValueError(f"rule {r.name}: matches_regex needs a pattern")
        return F.col(c).isNotNull() & ~F.col(c).rlike(r.pattern)
    return None


def validate_expectations(df: DataFrame, rules: list[Expectation]) -> DataFrame:
    """Evaluate declarative expectations; return one row per rule:
    ``(rule, n_checked, n_violations, passed)``.

    Plan shape: all single-table rules (not_null / accepted_values /
    in_range) collapse into ONE aggregate over one scan — each rule is
    a conditional-sum expression. 'unique' needs its own aggregate
    (n_rows − n_distinct keys over the same scan; distinct forces its
    own partial-agg), and each 'foreign_key' is a left-anti join
    against its dimension — broadcast when the dim is small, which is
    the 100 TB norm for FK targets. Results are tiny 1-row relations
    unioned at the end; Spark runs the branches independently, so rule
    count widens the plan, not the data path.
    """
    if not rules:
        raise ValueError("validate_expectations requires at least one rule")
    for r in rules:
        for c in r.cols:
            if c not in df.columns:
                raise ValueError(f"rule {r.name}: column {c!r} not in input")

    scalar_aggs: list = []
    scalar_rules: list[Expectation] = []
    extras: list[DataFrame] = []

    n_rows = F.count(F.lit(1))

    for r in rules:
        row_bad = expectation_row_violation(r)
        if row_bad is not None:
            # row-local kinds share the ONE predicate definition with
            # the quarantine path (expectation_row_violation)
            scalar_rules.append(r)
            scalar_aggs.append(F.sum(row_bad.cast("long")))
        elif r.kind == "unique":
            key = [F.col(c) for c in r.cols]
            # NULL-keyed rows are exempt (dbt/GE unique semantics, and
            # this module's own convention): countDistinct already
            # ignores rows with any NULL key component, so the minuend
            # must too, or every NULL-keyed row counts as a violation.
            nn_key = F.lit(True)
            for c in r.cols:
                nn_key = nn_key & F.col(c).isNotNull()
            extras.append(
                df.agg(
                    F.lit(r.name).alias("rule"),
                    n_rows.alias("n_checked"),
                    (F.sum(nn_key.cast("long")) - F.countDistinct(*key))
                    .cast("long")
                    .alias("n_violations"),
                )
            )
        elif r.kind == "foreign_key":
            if r.ref is None or len(r.ref_cols) != len(r.cols):
                raise ValueError(f"rule {r.name}: foreign_key needs ref + ref_cols")
            cond = None
            for c, rc in zip(r.cols, r.ref_cols):
                eq = df[c] == r.ref[rc]
                cond = eq if cond is None else (cond & eq)
            nn = None
            for c in r.cols:
                p = F.col(c).isNotNull()
                nn = p if nn is None else (nn & p)
            orphans = df.filter(nn).join(F.broadcast(r.ref), cond, "left_anti")
            extras.append(
                df.agg(F.lit(r.name).alias("rule"), n_rows.alias("n_checked")).join(
                    orphans.agg(
                        F.count(F.lit(1)).cast("long").alias("n_violations")
                    ),
                    how="cross",
                )
            )
        else:
            raise ValueError(f"unknown expectation kind {r.kind!r}")

    parts: list[DataFrame] = []
    if scalar_rules:
        wide = df.agg(
            n_rows.alias("__n"),
            *[a.alias(f"__v_{i}") for i, a in enumerate(scalar_aggs)],
        )
        rows = F.array(
            *[
                F.struct(
                    F.lit(r.name).alias("rule"),
                    F.col("__n").alias("n_checked"),
                    F.coalesce(F.col(f"__v_{i}"), F.lit(0))
                    .cast("long")
                    .alias("n_violations"),
                )
                for i, r in enumerate(scalar_rules)
            ]
        )
        parts.append(wide.select(F.explode(rows).alias("r")).select("r.*"))
    parts.extend(extras)

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn("passed", F.col("n_violations") == 0)


def benford_digit_test(
    df: DataFrame,
    value_col: str,
    group_by: str | list[str] | None = None,
) -> DataFrame:
    """First-significant-digit distribution vs Benford's law with the
    Pearson chi² distance (public: Benford 1938; Nigrini's forensic-
    accounting screen — fabricated or manipulated numeric columns
    drift from the log10(1 + 1/d) law that organic multi-scale data
    follows). The data-quality sibling of ``profile_table`` /
    ``population_stability``.

    The first digit is extracted ARITHMETICALLY (value / 10^floor(
    log10(value)) — no string round-trip, stays in codegen); rows with
    NULL or non-positive values are excluded (Benford applies to
    positive magnitudes; stated, complete-case). Expected shares are
    the nine log10 literals — identical constants in both engines.

        chi2 = n · Σ_d (observed_share_d − expected_d)² / expected_d

    Scale shape: ONE conditional aggregate over the facts to a
    9·|groups|-row relation; chi² derives from exact counts in a
    pinned sequence. Returns one row per (group, digit):
    ``(…group, digit, n_digit, n, observed, expected, chi2)`` with the
    group's chi² repeated per digit row (the relation IS the readout).
    """
    import math as _math

    groups = (
        [] if group_by is None
        else [group_by] if isinstance(group_by, str) else list(group_by)
    )
    v = F.col(value_col).cast("double")
    pos = df.filter(v.isNotNull() & (v > 0))
    digit = F.floor(v / F.pow(F.lit(10.0), F.floor(F.log10(v)))).cast("long")
    per = pos.select(*groups, digit.alias("digit")).groupBy(*groups, "digit").agg(
        F.count(F.lit(1)).cast("long").alias("n_digit")
    )
    wtot = Window.partitionBy(*groups) if groups else Window.partitionBy()
    expected = F.element_at(
        F.array(*[F.lit(_math.log10(1 + 1 / d)) for d in range(1, 10)]),
        F.col("digit").cast("int"),
    )
    scored = per.withColumn("n", F.sum("n_digit").over(wtot)).select(
        *groups,
        "digit",
        "n_digit",
        "n",
        (F.col("n_digit").cast("double") / F.col("n").cast("double")).alias(
            "observed"
        ),
        expected.alias("expected"),
    )
    term = (
        (F.col("observed") - F.col("expected"))
        * (F.col("observed") - F.col("expected"))
        / F.col("expected")
    )
    # micro-quantized per-digit terms -> exact cross-digit sum
    term_micro = F.floor(term * F.lit(1e9) + F.lit(0.5)).cast("long")
    return scored.withColumn(
        "chi2",
        F.col("n").cast("double")
        * (F.sum(term_micro).over(wtot).cast("double") / F.lit(1e9)),
    )
