"""Wide pivot / tensor assembly (SURVEY.md §2.9 T7-T8).

The reference pivots each visit's events to an hours × itemid frame
inside a python loop (``data_generation_icu.py:392-394,475-478``) and
pickles nested dicts (``:680-729``). At scale the *long* format is the
real representation; wide pivot is a presentation step with an explicit,
capped column domain, and the dict-tensor becomes a MapType column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def pivot_features(
    df: DataFrame,
    index_cols: list[str],
    pivot_col: str,
    agg_expr: Column,
    values: list | None = None,
) -> DataFrame:
    """T7: ``pivot_table(index, columns, values, aggfunc)`` equivalent
    (``icu_preprocess_util.py:293-320``).

    Always pass ``values`` in production: an explicit pivot domain skips
    the extra distinct-scan job AND keeps the column set stable across
    runs (pandas emits whatever it saw — a schema hazard the reference
    papers over with column-set alignment, ``data_generation_icu.py:508``).
    Columns are emitted in sorted order for deterministic schemas.
    """
    return (
        df.groupBy(*index_cols).pivot(pivot_col, values=sorted(values) if values else None)
    ).agg(agg_expr)


def assemble_map_tensor(
    df: DataFrame,
    id_col: str,
    key_col: str,
    time_col: str,
    value_col: str,
    out_col: str = "series",
) -> DataFrame:
    """T8: per-id tensor as ``MapType(key → ArrayType(value))`` —
    the distributed replacement for the reference's pickled
    ``dataDic[stay_id][...]['signal'][itemid] = [hourly...]``
    (``data_generation_icu.py:441-729``).

    ``sort_array`` over (time, value) structs gives time-ordered arrays
    without a window; two hash aggregates, both keyed by id.

    One exchange, not two (optimization r11, guide §2.3/§2.4): both
    aggregates are collect-type, so partial aggregation ships every
    element either way — there is no map-side reduction to preserve.
    Keying the single shuffle by ``id`` up front lets BOTH hash
    aggregates run exchange-free (HashPartitioning(id) satisfies
    ClusteredDistribution(id, key) — partitioning expressions are a
    subset of the clustering keys), halving the bytes this operator
    moves: the old shape shuffled the full (time, value) payload on
    (id, key) and then the full per-key arrays again on (id). Values
    are partitioning-independent: ``sort_array`` over full structs
    makes both collected arrays a pure function of the row multiset.
    """
    per_key = (
        df.repartition(F.col(id_col))
        .groupBy(id_col, key_col)
        .agg(
            F.sort_array(F.collect_list(F.struct(time_col, value_col))).alias("__tv")
        )
        .withColumn("__series", F.col(f"__tv.{value_col}"))
    )
    return per_key.groupBy(id_col).agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct(key_col, "__series")))
        ).alias(out_col)
    )
