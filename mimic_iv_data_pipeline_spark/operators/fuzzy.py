"""Edit-distance similarity self-join (fuzzy dedup on short strings).

Candidate generation is the SymSpell / FastSS deletion-neighborhood
scheme: every string emits itself plus every variant reachable by
deleting ≤ ``max_dist`` characters. Two strings within Levenshtein
distance k necessarily share a variant (delete the differing positions
from each side), so an equi-join on the variant is a *complete* filter —
the exact ``levenshtein`` verification afterwards removes the false
positives, never reinstates false negatives.

Scale shape: a string of length L emits O(L^k) variants (L+1 for k=1,
~L²/2 for k=2) — the exploded relation is linear-ish in corpus size and
the join is a plain hash equi-join on the variant string. No all-pairs
path exists anywhere in the plan; cost concentrates in Σ bucket² over
variant buckets, the same guarantee as the MinHash/LSH family
(`operators/dedup.py`). The neighborhood is built with built-in
higher-order functions (``transform`` over ``sequence``) — JVM codegen,
no Python in the hot path.

No reference twin: the reference dedups on exact keys only
(`preprocessing/day_intervals_preproc/day_intervals_cohort.py`
drop_duplicates); fuzzy matching is part of the LLM-corpus surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["deletion_variants", "edit_distance_join"]


def _delete_each(s: Column) -> Column:
    """All strings reachable from ``s`` by deleting exactly one char.

    Empty strings yield an empty array: unguarded, ``sequence(1, 0)``
    defaults to step −1 and emits positions ``[1, 0]`` — junk ``''``
    variants that the exact verify discards but that equi-join every
    empty string against every other (a needless hot bucket).
    """
    return F.when(F.length(s) > 0, F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.concat(
            s.substr(F.lit(1), i - 1), s.substr(i + 1, F.length(s))
        ),
    )).otherwise(F.array().cast("array<string>"))


def deletion_variants(s: Column, max_dist: int) -> Column:
    """``{s} ∪ D₁(s) ∪ … ∪ D_max_dist(s)`` as a distinct array."""
    if max_dist not in (1, 2):
        raise ValueError("deletion_variants: max_dist must be 1 or 2")
    d1 = _delete_each(s)
    variants = F.array_union(F.array(s), d1)
    if max_dist == 2:
        d2 = F.flatten(F.transform(d1, _delete_each))
        variants = F.array_union(variants, d2)
    return variants


def edit_distance_join(
    df: DataFrame,
    id_col: str,
    str_col: str,
    max_dist: int = 1,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """All pairs ``(id_a, id_b, dist)`` with ``levenshtein ≤ max_dist``,
    ``id_a < id_b``, exact (complete candidate cover + exact verify).

    The strings ride through the explode so verification needs no join
    back to the base relation. The ``levenshtein`` verify runs BEFORE
    the pair-dedup: a pair that matches on several variants is verified
    that many times (measured ~2% extra lev calls), but the distinct
    then shuffles only the *surviving* narrow ``(id_a, id_b, dist)``
    rows — ~4× fewer bytes than deduping the wide candidate relation
    first (0.96M wide rows → 0.27M narrow at sf0.1, −1.3 s).

    Skew: cost concentrates in Σ bucket² over variant buckets, and a
    high-frequency short string (or a pile of identical strings) makes
    one bucket quadratic. Two walls, one automatic, one opt-in:

    * AQE skew-join splitting is LOAD-BEARING at scale — an oversized
      variant bucket is exactly the skewed-partition shape
      ``spark.sql.adaptive.skewJoin`` re-plans; keep it enabled.
    * ``max_bucket`` is the :func:`~mimic_iv_data_pipeline_spark.
      operators.dedup.ngram_jaccard_pairs` ``max_df`` recipe: variant
      buckets larger than the cap are dropped from the candidate index
      (they are the quadratic keys), and every surviving candidate is
      still verified with the exact ``levenshtein`` — reported
      distances stay exact. Recall bound: a true pair is missed only
      if EVERY variant the two strings share is hot; ed≤1 pairs of
      length-L strings share up to L+2 variants, so only strings whose
      entire neighborhood is saturated (adversarial mass on one name)
      can hide. **Default 100_000**: a bucket that hot means ≥5e9
      comparisons for ONE key — the 100×-scale killer — and real name
      distributions sit orders of magnitude below it (max observed
      bucket: 38 at sf0.1), so the wall no longer depends on the
      caller knowing the flag exists. Pass ``None`` to opt OUT into
      the exact complete join (adversarial-input-complete, but
      unbounded skew).
    """
    from mimic_iv_data_pipeline_spark.engine import fan_out, materialize

    # fan out BEFORE the O(L^k) variant explode: an unsplittable small
    # scan otherwise leaves the explode, the hash-join probe over the
    # pinned relation, and the levenshtein verify all in ONE task
    # (measured: a single 4.4 s CPU-bound stage at sf0.1); no-op when
    # the input already has ≥ cores partitions
    # the exploded variant relation feeds up to three consumers (the
    # max_bucket count, then BOTH self-join sides — differing
    # projections above the exchange, so ReuseExchange cannot fire);
    # without the pin the O(L²/2)-variants explode + xxhash64
    # recomputes per consumer
    sides = (
        fan_out(df.select(id_col, str_col))
        .select(
            F.col(id_col).alias("__id"),
            F.col(str_col).alias("__s"),
            F.explode(deletion_variants(F.col(str_col), max_dist)).alias("__vs"),
        )
        .select(
            # join on the variant's 64-bit hash, not the string: smaller
            # shuffle rows + cheaper key compares; a hash collision only
            # adds a candidate the exact verify below discards
            F.xxhash64("__vs").alias("__v"),
            "__id",
            "__s",
        )
        .transform(materialize)
    )
    if max_bucket is not None:
        # filter by the HOT-bucket complement, not the OK-bucket list.
        # ``n <= cap`` keeps almost every bucket, so joining on the OK
        # list shuffles the full variant relation against a near-full
        # key list (two more exchanges on __v); the equivalent ``NOT IN
        # hot`` set is tiny — at most |sides|/cap keys, zero on every
        # non-adversarial corpus measured — so it broadcasts and the cap
        # costs one aggregate + one broadcast anti probe. Survivors
        # identical by definition (n <= cap ⟺ __v not in hot).
        hot = (
            sides.groupBy("__v")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket)
            .select("__v")
        )
        sides = sides.join(F.broadcast(hot), "__v", "left_anti")
    a = sides.select(
        F.col("__v"),
        F.col("__id").alias("id_a"),
        F.col("__s").alias("__sa"),
    )
    b = sides.select(
        F.col("__v"),
        F.col("__id").alias("id_b"),
        F.col("__s").alias("__sb"),
    )
    return (
        a.join(b, "__v")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("__sa", "__sb"))
        .filter(F.col("dist") <= max_dist)
        .select(
            # widen integral ids to long (stable driver/oracle schema);
            # any other id type (string doc keys, …) passes through
            # unchanged — an unconditional long cast would NULL it out
            # silently and corrupt the pair list
            _id_out(df, id_col, "id_a"),
            _id_out(df, id_col, "id_b"),
            F.col("dist").cast("long").alias("dist"),
        )
        .distinct()
    )


def _id_out(df: DataFrame, id_col: str, alias: str) -> Column:
    # isinstance, not simpleString(): Spark prints 'tinyint'/'smallint'/
    # 'bigint', so a name set like {'byte','short','long'} never matched
    # and sub-int ids kept their narrow type (schema instability this
    # widen exists to prevent)
    from pyspark.sql.types import IntegralType

    if isinstance(df.schema[id_col].dataType, IntegralType):
        return F.col(alias).cast("long").alias(alias)
    return F.col(alias)
