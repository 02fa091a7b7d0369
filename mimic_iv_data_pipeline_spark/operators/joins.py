"""Join operators (SURVEY.md §2.3).

Plain equi-joins (J1-J6) need no wrappers — callers use ``df.join``
directly and Catalyst broadcasts the small side. This module holds the
two join shapes the reference hand-rolls imperatively:

* J7 as-of/interval join — the reference's ``hadm_imputer``
  (``utils/labs_preprocess_util.py:13-60``) loops per lab row under a
  ``multiprocessing.Pool(8)`` writing uuid-named csv shards.
* J9 grouped code mapping — ``icd_9to10`` scans the whole mapping table
  per distinct code (``utils/hosp_preprocess_util.py:402-426``,
  O(codes × map)).

Both become single declarative joins here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def semi_filter(df: DataFrame, ids: DataFrame, on: str | list[str]) -> DataFrame:
    """P6/J6: membership filter expressed as a left-semi join.

    The reference uses ``isin`` against collected id lists
    (``day_intervals_cohort.py:39,347``); a semi join keeps the id set
    distributed (no driver collect) and lets AQE broadcast it when small.
    """
    return df.join(ids, on=on, how="left_semi")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_time: str,
    right_start: str,
    right_end: str | None = None,
    tolerance_expr: Column | None = None,
    direction: str = "nearest_after_start",
    suffix: str = "_r",
    tie_break: list[Column] | None = None,
    strategy: str = "join",
    union_tie_cols: list[str] | None = None,
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """J7: as-of / interval join with deterministic tie-break.

    Semantics of the reference's ``hadm_imputer``
    (``utils/labs_preprocess_util.py:13-60``): for each left row, find
    right rows of the same key whose interval ``[right_start, right_end]``
    contains ``left_time``; on ties keep the row minimizing
    ``left_time - right_start``. Left rows with no match survive with
    nulls (the reference keeps un-imputed labs).

    Physical shape: the equi key makes this a regular shuffled
    SortMergeJoin with a residual range predicate — NOT a broadcast
    nested loop — so it scales with executors. The ``row_number`` dedup
    shares the same hash partitioning as the join output, so AQE
    typically plans join + window with one shuffle of each side.

    ``direction='backward'`` (no ``right_end``) gives classic trading
    as-of semantics: latest right event at-or-before ``left_time``.

    ``strategy='union'`` (backward only): instead of a range join —
    whose output is Σ_key |left|·|right-before| rows, quadratic per hot
    key — union both sides, sort once per key, and carry the latest
    right row forward with ``last(…, ignorenulls)``. One shuffle,
    O(n log n) per key, measured ~20× the join strategy at 2M×2M rows
    per 15k keys (PERF.md). Tie-break under 'union' uses
    ``union_tie_cols`` (right-side column names, ascending order —
    the LAST row in frame order wins, i.e. the max), matching the join
    strategy's ``ORDER BY ts DESC, tie DESC → rn=1``. Tolerance is
    applied post-match (valid: for backward as-of the latest match is
    the only candidate — anything older is farther).

    ``tolerance_seconds`` is honored under BOTH strategies (under
    'join' it joins the range predicate; under 'union' it filters the
    carried match) — equivalent for backward as-of. Invalid
    combinations raise instead of silently ignoring a parameter:
    unknown ``direction`` values, and ``right_end`` with
    ``direction='backward'``.
    """
    if direction not in ("backward", "nearest_after_start"):
        raise ValueError(
            f"asof_join: unknown direction {direction!r} "
            "(expected 'backward' or 'nearest_after_start')"
        )
    if direction == "backward" and right_end is not None:
        raise ValueError(
            "asof_join: right_end is an interval-containment bound — "
            "meaningless under direction='backward' (latest-at-or-before); "
            "silently ignoring it would match events after the interval "
            "closed. Use direction='nearest_after_start' for intervals."
        )
    keys = [on] if isinstance(on, str) else list(on)
    # Disambiguate overlapping column names before the non-equi condition.
    # Keys are renamed too (dropped after the join) so that self-joins —
    # both sides derived from the same scan — never produce an ambiguous
    # or trivially-true predicate.
    overlapping = (set(left.columns) & set(right.columns)) - set(keys)
    renamed = right
    for c in overlapping:
        renamed = renamed.withColumnRenamed(c, c + suffix)

    if strategy == "union":
        if direction != "backward" or right_end is not None:
            raise ValueError("strategy='union' supports backward as-of only")
        return _asof_backward_union(
            left, renamed, keys, left_time,
            right_start + suffix if right_start in overlapping else right_start,
            union_tie_cols or [], tolerance_seconds,
        )

    for k in keys:
        renamed = renamed.withColumnRenamed(k, "__asof_key_" + k)

    def rcol(name: str) -> Column:
        return F.col(name + suffix) if name in overlapping else F.col(name)

    # Unique left-row handle so the tie-break window is exactly
    # "one winner per left row" (the reference tracks this implicitly by
    # looping rows). monotonically_increasing_id is stable within the plan.
    tagged = left.withColumn("__asof_row", F.monotonically_increasing_id())

    cond = [F.col(k) == F.col("__asof_key_" + k) for k in keys]
    if direction == "backward":
        cond.append(F.col(left_time) >= rcol(right_start))
        order = rcol(right_start).desc()
    else:
        cond.append(F.col(left_time) >= rcol(right_start))
        if right_end is not None:
            cond.append(F.col(left_time) <= rcol(right_end))
        order = (F.col(left_time).cast("long") - rcol(right_start).cast("long")).asc()
    if tolerance_expr is not None:
        cond.append(tolerance_expr)
    if tolerance_seconds is not None:
        # honored under BOTH strategies (this used to be a silent no-op
        # for strategy='join', returning arbitrarily stale matches):
        # candidates farther back than the tolerance never qualify
        cond.append(
            (
                F.unix_timestamp(F.col(left_time))
                - F.unix_timestamp(rcol(right_start))
            )
            <= F.lit(int(tolerance_seconds))
        )

    cond_expr = cond[0]
    for c in cond[1:]:
        cond_expr = cond_expr & c
    joined = tagged.join(renamed, on=cond_expr, how="left")
    joined = joined.drop(*["__asof_key_" + k for k in keys])
    ordering = [order] + (tie_break or [])
    w = Window.partitionBy("__asof_row").orderBy(*ordering)
    return (
        joined.withColumn("__asof_rn", F.row_number().over(w))
        .filter(F.col("__asof_rn") == 1)
        .drop("__asof_row", "__asof_rn")
    )


def _asof_backward_union(
    left: DataFrame,
    renamed_right: DataFrame,
    keys: list[str],
    left_time: str,
    right_time: str,
    tie_cols_asc: list[str],
    tolerance_seconds: int | None,
) -> DataFrame:
    """Union + last-value carry: the linear backward as-of.

    Right rows carry their payload as a struct; after a single
    per-key sort (right rows ordered before left rows at equal
    timestamps — inclusive `<=` semantics), ``last(ignorenulls)``
    attaches the latest right payload to every left row.
    """
    payload_cols = [c for c in renamed_right.columns if c not in keys]
    r = renamed_right.select(
        *keys,
        F.col(right_time).alias("__ts"),
        F.lit(0).alias("__is_left"),
        F.struct(*[F.col(c) for c in payload_cols]).alias("__rval"),
        *[F.col(c).alias(f"__tie_{i}") for i, c in enumerate(tie_cols_asc)],
    )
    l_side = left.select(
        "*",
        F.col(left_time).alias("__ts"),
        F.lit(1).alias("__is_left"),
    )
    unioned = l_side.unionByName(r, allowMissingColumns=True)
    order = [F.col("__ts").asc(), F.col("__is_left").asc()] + [
        F.col(f"__tie_{i}").asc_nulls_first() for i in range(len(tie_cols_asc))
    ]
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = unioned.withColumn("__m", F.last("__rval", ignorenulls=True).over(w))
    out = matched.filter(F.col("__is_left") == 1)
    if tolerance_seconds is not None:
        within = (
            F.unix_timestamp(F.col(left_time))
            - F.unix_timestamp(F.col(f"__m.{right_time}"))
        ) <= tolerance_seconds
        out = out.withColumn("__m", F.when(within, F.col("__m")))
    for c in payload_cols:
        out = out.withColumn(c, F.col(f"__m.{c}"))
    drop = ["__ts", "__is_left", "__m", "__rval"] + [
        f"__tie_{i}" for i in range(len(tie_cols_asc))
    ]
    return out.drop(*[c for c in drop if c in out.columns])


def map_codes(
    df: DataFrame,
    mapping: DataFrame,
    code_col: str,
    map_key: str,
    map_value: str,
    out_col: str | None = None,
    key_expr: Column | None = None,
) -> DataFrame:
    """J9: dimension-table code mapping as a broadcast hash join.

    Replaces ``icd_9to10``'s per-code scan loop
    (``utils/hosp_preprocess_util.py:402-426``): dedupe the mapping to
    first-match per key (W5 semantics — the reference takes ``.iloc[0]``),
    broadcast it, left join, and fall back to the original code where
    unmapped (``coalesce``).

    ``key_expr`` lets callers join on a derived key such as the 3-char
    ICD root (``substring(icd_code, 1, 3)``, F1).
    """
    out_col = out_col or code_col
    first_match = (
        mapping.withColumn(
            "__rn",
            F.row_number().over(Window.partitionBy(map_key).orderBy(map_value)),
        )
        .filter(F.col("__rn") == 1)
        .select(F.col(map_key).alias("__map_key"), F.col(map_value).alias("__map_value"))
    )
    join_key = key_expr if key_expr is not None else F.col(code_col)
    joined = df.join(
        F.broadcast(first_match), join_key == F.col("__map_key"), "left"
    )
    mapped = F.coalesce(F.col("__map_value"), F.col(code_col))
    return joined.withColumn(out_col, mapped).drop("__map_key", "__map_value")


def upsert_latest(
    base: DataFrame,
    *,
    updates: DataFrame,
    key_cols: list[str],
    version_col: str,
) -> DataFrame:
    """SCD-1 snapshot upsert without a table format: union the change
    batch onto the base snapshot and keep, per key, the row with the
    highest ``version_col`` (updates win ties — they sort after base).

    This is the MERGE INTO / Delta upsert shape expressed as a plain
    plan: ONE union + ONE per-key window — the keyed shuffle is on the
    upsert key, so at 100 TB it colocates with a base bucketed/z-ordered
    on the same key and AQE coalesces the small change-batch side.
    Writers should pair it with dynamic partition overwrite
    (``spark.sql.sources.partitionOverwriteMode=dynamic``) so only
    partitions containing changed keys rewrite. Deterministic: ties on
    (version, origin) break to the update row, then row content is
    irrelevant because keys are unique per origin.
    """
    from pyspark.sql.window import Window

    tagged = base.withColumn("__origin", F.lit(0)).unionByName(
        updates.withColumn("__origin", F.lit(1))
    )
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(version_col).desc(), F.col("__origin").desc()
    )
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__origin")
    )


def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    op_col: str,
    version_col: str,
    upsert_ops: tuple[str, ...] = ("I", "U"),
    delete_op: str = "D",
) -> DataFrame:
    """Apply a change-data-capture log (insert/update/delete ops) onto
    a base snapshot — the full MERGE shape ``upsert_latest`` covers
    minus deletes (public semantics: Debezium/Delta CDF apply; "latest
    op per key wins, delete removes the key").

    Per key, the single row with the highest ``(version, origin)``
    decides the outcome: an upsert op keeps its row (change columns),
    a delete op removes the key entirely — including keys whose delete
    arrived in the same batch as earlier upserts. Unknown op values
    raise at plan build. Base rows carry an implicit upsert op.

    Scale shape: identical to ``upsert_latest`` — ONE union + ONE
    per-key window on the merge key (colocates with a base
    bucketed/z-ordered on that key; AQE coalesces the change side) +
    one filter dropping delete-winners. Deterministic: ties on version
    break to the change row.
    """
    from pyspark.sql.window import Window

    ops = set(upsert_ops) | {delete_op}
    data_cols = [c for c in base.columns]
    known = F.col("__op").isin(list(ops))
    tagged = base.select(*data_cols).withColumn("__op", F.lit(upsert_ops[0])).withColumn(
        "__origin", F.lit(0)
    ).unionByName(
        changes.select(*data_cols, F.col(op_col).alias("__op")).withColumn(
            "__origin", F.lit(1)
        )
    ).withColumn(
        "__op",
        F.when(known, F.col("__op")).otherwise(
            F.raise_error(
                F.concat(F.lit("apply_cdc: unknown op "), F.col("__op"))
            )
        ),
    )
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(version_col).desc(), F.col("__origin").desc()
    )
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("__op") != delete_op))
        .drop("__rn", "__origin", "__op")
    )
