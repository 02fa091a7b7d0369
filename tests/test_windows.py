"""Window-operator tests: the ``ewma``/``holt_linear`` hash-bucket count
changes parallelism, never values."""

from __future__ import annotations


def test_ewma_holt_invariant_to_shuffle_partitions(spark):
    """The hash-bucket count (4 × ``spark.sql.shuffle.partitions``) is a
    pure parallelism knob: every (key, t) output must be BITWISE
    identical for any partition count (all rows of a key land in one
    bucket by construction, and the loop resets at key boundaries)."""
    import random

    from mimic_iv_data_pipeline_spark.operators.windows import ewma, holt_linear

    rng = random.Random(11)
    rows = [
        (f"k{rng.randrange(17)}", t, rng.choice([None, rng.uniform(-5, 5)]))
        for t in range(600)
    ]
    df = spark.createDataFrame(rows, "k string, t long, x double")

    def at_partitions(n, build):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        try:
            return build()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)

    def emap(n):
        return at_partitions(n, lambda: {
            (r["k"], r["t"]): r["e"]
            for r in ewma(df, "k", "t", "x", 0.25, out_col="e").collect()
        })

    base = emap(1)
    assert emap(7) == base and emap(64) == base

    def hmap(n):
        return at_partitions(n, lambda: {
            (r["k"], r["t"]): (r["level"], r["trend"], r["forecast"])
            for r in holt_linear(df, "k", "t", "x", 0.5, 0.25).collect()
        })

    hbase = hmap(1)
    assert hmap(7) == hbase and hmap(64) == hbase
