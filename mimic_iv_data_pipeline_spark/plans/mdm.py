"""Master-data golden records: fuzzy dedupe → clusters → survivorship.

The classic MDM/entity-resolution recipe (public: the Fellegi-Sunter
record-linkage lineage; "golden record" / survivorship is standard MDM
vocabulary, cf. Talend/Informatica semantics) composed from this
repo's operators:

    1. candidate pairs — ``edit_distance_join`` on the name (the
       deletion-neighborhood generator; no all-pairs), RESTRICTED to a
       blocking predicate (same nation here): fuzzy match across
       blocks is taken as evidence of coincidence, not identity
    2. clusters       — ``connected_components`` over the surviving
       pair graph (min-id component labels)
    3. survivorship   — one aggregate per cluster picks the golden
       values: the representative is the MIN id (stable, content-free),
       name from the representative (a keyed window), numeric fields
       by the stated rules (max balance — "most creditworthy wins" is
       a placeholder for recency in a table without timestamps)

Every step is set-level (the pair generator is bucketed, the CC is the
large/small-star operator, survivorship is one shuffle); the whole
recipe is SQL-expressible, so q204 hash-verifies it end to end
(DuckDB: ``levenshtein`` + a recursive-CTE closure).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.operators.fuzzy import edit_distance_join
from mimic_iv_data_pipeline_spark.engine import materialize
from mimic_iv_data_pipeline_spark.operators.graph import connected_components


def golden_records(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_col: str,
    value_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """One golden record per entity cluster.

    Returns ``(cluster_id, n_members, survivor_name, max_value,
    n_distinct_names)`` — cluster_id is the minimum member id;
    singletons (no fuzzy match) are their own cluster, so the output
    is a complete deduplicated master (Σ n_members == |input|,
    invariant-tested).
    """
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(name_col).alias("__name"),
        F.col(block_col).alias("__blk"),
        F.col(value_col).alias("__val"),
    ).transform(materialize)
    # materialize: base feeds the fuzzy join, the blocking relation,
    # AND the final labeled aggregate, while connected_components runs
    # its own eager jobs in between — without the pin the upstream
    # input re-scans 3-4x per call (the same re-scan q185 paid)
    pairs = edit_distance_join(base, "__id", "__name", max_dist=max_dist)
    # blocking: a fuzzy name match only counts WITHIN a block
    blk = base.select(F.col("__id"), F.col("__blk"))
    pairs = (
        pairs.join(blk.withColumnRenamed("__id", "id_a").withColumnRenamed("__blk", "__ba"), "id_a")
        .join(blk.withColumnRenamed("__id", "id_b").withColumnRenamed("__blk", "__bb"), "id_b")
        .filter(F.col("__ba") == F.col("__bb"))
        .select("id_a", "id_b")
    )
    comp = connected_components(
        pairs, nodes=base.select(F.col("__id").alias("id"))
    )
    labeled = base.join(
        comp.select(F.col("id").alias("__id"), F.col("component").alias("cluster_id")),
        "__id",
    )
    # survivor = min-id member's name via ONE min-struct aggregate
    # (ids unique -> struct ordering decides on __id first); replaces a
    # row_number window + max(when(rn==1)) — one per-partition sort
    # and a column cheaper, same deterministic answer
    return labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.min(F.struct("__id", "__name")).getField("__name").alias(
            "survivor_name"
        ),
        F.max("__val").alias("max_value"),
        F.count_distinct("__name").cast("long").alias("n_distinct_names"),
    )
