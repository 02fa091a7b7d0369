"""SparkSession factory with scale-aware defaults.

The reference pipeline hand-manages memory with chunked pandas scans
(``utils/hosp_preprocess_util.py:296-327``) and an 8-process pool
(``utils/labs_preprocess_util.py:119-126``). On Spark all of that is
the engine's job; what we own is the configuration: AQE on (runtime
coalesce + skew-join handling), Arrow for the pandas boundary, UTC
session time zone so timestamp semantics are stable across engines.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(ram_bytes: int) -> str:
    """Driver heap for a host with ``ram_bytes`` of physical memory:
    min(16g, RAM/2) in whole GiB, at least 1g. Half of RAM leaves room
    for the JVM's off-heap memory, the Python workers and the OS page
    cache; 16g is the ceiling measured as enough for the local[32]
    harness (see the ``spark.driver.memory`` entry below)."""
    return f"{max(1, min(16, ram_bytes // 2 // 2**30))}g"


# Tuned for the local[32]/128GiB test harness; on a real cluster the
# submitter overrides master/memory and shuffle partitions scale with
# executor count (AQE coalesces the excess at runtime either way).
DEFAULT_CONFIG: dict[str, str] = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Small dims (region/nation/mapping tables, cohort id lists) should
    # broadcast; 64 MB covers every dimension table in this workload.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
    "spark.sql.parquet.compression.codec": "snappy",
    # LOCAL-HARNESS value: split small parquet inputs so scan stages use
    # every core even when a table is a single file (the default 128 MB
    # leaves a 10 MB documents table on 1-2 tasks, so heavy per-row scan
    # work — shingling, hashing — runs nearly single-threaded). A real
    # cluster submitter MUST override back to 128-256 MB: at 100 TB this
    # value would mean ~12M scan tasks, pure scheduler poison. The
    # scale-invariant rule is partitions ≈ a few × total cores.
    "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
    # LOCAL-HARNESS sizing (guide §5/§9: size memory to the machine, not
    # the default): local[n] executes every task inside the driver JVM,
    # whose Spark default heap is 1 GB — with 32 concurrent tasks that
    # is ~20 MB of execution+storage memory each, so aggregates spill,
    # localCheckpoint blocks evict, and the whole bench pays a constant
    # GC tax (measured: a 12-query battery at 16 g is 0.60-0.65× the
    # 1 GB default under identical interleaved conditions, every query
    # at or below parity). 16 g is ~12% of the 128 GiB harness box; a
    # smaller host gets half its RAM (a 16 g heap on a 15 GiB host was
    # OOM-killed). On a real cluster this conf is set at submit time per
    # executor (spark.executor.memory) and this entry — honored only
    # when the session actually creates the JVM — is simply superseded.
    # SPARK_GRAFT_DRIVER_MEMORY overrides it per deployment.
    "spark.driver.memory": os.environ.get(
        "SPARK_GRAFT_DRIVER_MEMORY",
        default_driver_memory(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")),
    ),
    # GC (guide §5): the JDK-17 G1 default. ParallelGC read parity on
    # cold-JVM minima but spent 25.5% of a full battery's wall in GC
    # (15-25 s stop-the-world storms inside single timed windows) against
    # 2.7% under G1: equal throughput, an order-of-magnitude thinner GC
    # tail (PERF.md). A caller that wants another collector passes the
    # conf to get_spark.
    "spark.driver.extraJavaOptions": "-XX:+UseG1GC",
    # DRIVER-side DataFrame construction cost (guide §5): with this
    # public conf at its default (true), EVERY classic Column/DataFrame
    # method pays a Python stack walk plus three extra py4j round-trips
    # (PySparkCurrentOrigin set/clear + a conf read) purely to enrich
    # error messages with the user call site. Measured here: a Column
    # binary op costs 1.64 ms with it on, 0.19 ms with it off, and 50%
    # of the non-e2e bench wall-clock was DAG construction. Off by
    # default for this engine (errors still carry the JVM stack and the
    # failing expression); scale-independent — this is per-op driver
    # latency, identical on a laptop or a 100 TB cluster submitter.
    # A debugging session passes it as true to get_spark.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(app_name: str = "mimic_iv_data_pipeline_spark", **overrides: str) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``overrides`` are raw Spark conf key/values and win over defaults.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    conf = {**DEFAULT_CONFIG, **overrides}
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
