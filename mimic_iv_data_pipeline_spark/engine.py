"""Engine defaults — the ONE place a cluster deployer reads.

Every scale seam in this repo that behaves differently between the
local[32] test harness and a 1000-executor cluster is either a Spark
conf in :data:`mimic_iv_data_pipeline_spark.session.DEFAULT_CONFIG`
or a knob documented here. Nothing in this module changes query
results — only where intermediate state lives and how work is split.

Deployment seams (set at submit time, no code changes):

``spark.graft.materialize`` (default ``local``)
    How the package pins a relation. :func:`materialize` is the ONE
    pin: iterative operators (connected components, PageRank, LPA,
    BFS, Bellman-Ford, k-means) cut lineage
    between rounds with it, and operators and queries pin a relation
    they read more than once with it. Nothing in the package calls
    ``persist``/``cache`` (``tests/test_registry_consistency.py``
    guards this). Lifetime: the pin's job runs at call time, and its
    blocks back the RETURNED DataFrame only. They never enter Spark's
    CacheManager, so no later query's plan is rewritten to read them,
    and the ContextCleaner frees them once that DataFrame is garbage
    collected — repeated calls on distinct inputs accumulate nothing.

    * ``local`` — ``DataFrame.localCheckpoint``: blocks cached on
      executors, no HDFS round-trip. Right for single-app jobs and
      the test harness; state dies with an executor (Spark recomputes
      from nothing — a lost block fails the job since lineage was
      truncated).
    * ``reliable`` — ``DataFrame.checkpoint`` to the directory set
      with ``sparkContext.setCheckpointDir`` (REQUIRED in this mode):
      survives executor loss, the correct setting for long iterative
      jobs on preemptible/spot clusters.

``spark.sql.shuffle.partitions`` (harness: 32)
    Scale with total cores (a few × cores). Several operators derive
    secondary fan-outs from it: the value-bucketed prefix sums
    (``global_prefix_sums``) use it as the bucket count, and
    ``ewma``/``holt_linear`` use 4× it as the series hash-bucket
    count, with no per-call override — both therefore scale
    automatically when the deployer raises it.

``spark.sql.autoBroadcastJoinThreshold`` (harness: 64 MB)
    Every dimension/mapping/codebook relation in this repo is below
    this at any SF (they are vocabulary- or class-bounded, not
    fact-bounded); explicit ``F.broadcast`` hints mark the ones whose
    size is structural. Raise only with executor memory to spare.

``spark.sql.files.maxPartitionBytes`` (harness: 8 MB — LOCAL ONLY)
    The harness splits small parquet so 32 cores all scan; a real
    cluster MUST use 128–256 MB or a 100 TB input becomes ~12M scan
    tasks. The scale-invariant rule: scan partitions ≈ a few × cores.

``spark.sql.adaptive.*`` (on)
    AQE runtime coalesce + skew-join splitting. Operators with a
    structural skew wall additionally expose their own bound
    (``max_bucket`` on the LSH/edit-distance candidate generators,
    ``max_df`` on n-gram Jaccard) because AQE can only split a
    skewed JOIN, not un-skew a quadratic candidate set.

``spark.driver.memory`` (default: min(16g, RAM/2) — LOCAL ONLY)
    ``local[n]`` runs every task in the driver JVM; Spark's 1 GB
    default starves 32 concurrent tasks (guide §5). Override with
    ``SPARK_GRAFT_DRIVER_MEMORY``. On a cluster the
    equivalent knob is ``spark.executor.memory`` at submit time; this
    entry is only honored when the session creates the JVM.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

MATERIALIZE_CONF = "spark.graft.materialize"

# Logical-plan node names that introduce (or sit above) an exchange —
# matched at tree-line starts so expression text (e.g. a column named
# sort_array(...)) cannot false-positive. Used by fan_out's probe guard.
_SHUFFLEY_NODE = re.compile(
    r"(?m)^[\s:+\-]*(?:Join|Aggregate|Window|Deduplicate|Distinct|"
    r"Repartition|RepartitionByExpression|Sort|Intersect|Except|"
    r"GlobalLimit|CoGroup|FlatMapGroups|ApplyInPandas)\b"
)


def materialize(df: DataFrame) -> DataFrame:
    """Cut lineage and pin the current contents of ``df`` — the seam
    between the harness's ``localCheckpoint`` and a fault-tolerant
    cluster ``checkpoint`` (see module docstring; selected by the
    ``spark.graft.materialize`` conf so a deployer flips ONE setting,
    not every call site). Eager: the pin's job runs here.

    The package's only pin, used as ``df.transform(materialize)`` or
    ``materialize(df)`` by every iterative operator and multi-consumer
    relation in the repo.

    The pin keeps its PRE-pin size estimate: a 1,000-row relation
    pinned from a join carries the product of its join inputs (~3.7 TB
    for the pipeline's cohort), so a join broadcasts a small pin only
    when the caller hints ``F.broadcast``.
    """
    mode = df.sparkSession.conf.get(MATERIALIZE_CONF, "local")
    if mode == "reliable":
        return df.checkpoint(eager=True)
    if mode != "local":
        raise ValueError(
            f"{MATERIALIZE_CONF} must be 'local' or 'reliable', got {mode!r}"
        )
    return df.localCheckpoint(eager=True)


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the cluster's default parallelism
    when (and only when) the input has fewer partitions — the guide-§2.5
    "one huge unsplittable file" remedy, applied at the operators whose
    next step is CPU-heavy narrow work (digest chains, shingle/variant
    explodes, tokenization).

    Why an operator-level seam and not a reader default: measured at
    sf0.1, fanning out EVERY scan regresses join/aggregate-bound queries
    (q01 0.55→1.27 s, q03 1.21→2.12 s — the keyless repartition pays a
    local sort plus an exchange that buys nothing when the downstream
    work is one hash aggregate), while the compute-bound paths win big
    (q180 md5 chain 5.75→1.49 s; n-gram shingling 1.44→0.98 s). The
    condition makes it a no-op at scale: a 100 TB scan already has
    orders of magnitude more partitions than cores, so this only fires
    for small single-file (or single-row-group) inputs whose scan Spark
    cannot split — exactly where per-row-heavy work would otherwise run
    single-threaded. Content-addressed operators are partitioning-
    independent by repo discipline, so values are unchanged.
    """
    sc = df.sparkSession.sparkContext
    # Probe guard (ADVICE r11): df.rdd forces physical planning, and on
    # an AQE plan containing exchanges it MATERIALIZES the upstream
    # query stages — which the returned (unpersisted) DataFrame then
    # recomputes. Probe only narrow-over-scan plans (where .rdd is pure
    # planning, ~ms); anything with a shuffle-introducing node already
    # has ≥ shuffle.partitions upstream partitioning, so the fan would
    # be a no-op there anyway.
    if _SHUFFLEY_NODE.search(df._jdf.queryExecution().analyzed().toString()):
        return df
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df
