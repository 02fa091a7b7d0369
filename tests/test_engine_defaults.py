"""The engine-defaults deployment seams (engine.py, session.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.engine import MATERIALIZE_CONF, materialize
from mimic_iv_data_pipeline_spark.session import default_driver_memory

GIB = 2**30


def test_default_driver_memory_fits_the_host():
    """The driver heap is min(16g, RAM/2), at least 1g: a 16g heap on a
    15 GiB host gets the JVM OOM-killed, and the 128 GiB harness keeps
    its measured 16g."""
    assert default_driver_memory(1 * GIB) == "1g"
    assert default_driver_memory(15 * GIB) == "7g"
    assert default_driver_memory(128 * GIB) == "16g"


def test_materialize_local_default(spark):
    df = spark.range(10).transform(materialize)
    assert df.count() == 10
    # lineage is truncated: the plan scans a materialized RDD, not Range
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan and "Range" not in plan


def test_materialize_reliable_uses_checkpoint_dir(spark, tmp_path):
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set(MATERIALIZE_CONF, "reliable")
    try:
        df = spark.range(7).transform(materialize)
        assert df.count() == 7
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in plan and "Range" not in plan
        # the checkpoint actually landed in the configured directory
        assert any((tmp_path / "ckpt").rglob("*"))
    finally:
        spark.conf.unset(MATERIALIZE_CONF)


def test_materialize_rejects_unknown_mode(spark):
    spark.conf.set(MATERIALIZE_CONF, "bogus")
    try:
        with pytest.raises(ValueError, match="local.*reliable|reliable.*local"):
            materialize(spark.range(1))
    finally:
        spark.conf.unset(MATERIALIZE_CONF)


def test_iterative_operator_respects_reliable_mode(spark, tmp_path):
    """End-to-end: connected components under reliable mode produces
    identical results (the seam changes state placement, not values)."""
    from mimic_iv_data_pipeline_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "src long, dst long"
    )
    base = sorted(map(tuple, connected_components(edges, "src", "dst").collect()))
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt2"))
    spark.conf.set(MATERIALIZE_CONF, "reliable")
    try:
        rel = sorted(map(tuple, connected_components(edges, "src", "dst").collect()))
    finally:
        spark.conf.unset(MATERIALIZE_CONF)
    assert base == rel
