"""Oracle-differential tests mirroring the driver's compare.

For every registered query with an oracle: run the Spark DataFrame and
the DuckDB SQL on the same parquet tables, compare row count, column
names, declared result TYPES (the driver's value hash is type-sensitive
— r2's q24 red was a DuckDB HUGEINT vs Spark long mismatch with
identical values, invisible to a value-only compare), and an
order-insensitive value multiset (columns sorted by name, rows sorted,
NaN/None normalized) — the same contract as CORRECTNESS_r{N}.json, so
a red here predicts a red there.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from mimic_iv_data_pipeline_spark.queries import all_oracles, all_queries
from mimic_iv_data_pipeline_spark.sources.readers import TESTDATA_TABLES

QUERIES = all_queries()
ORACLES = all_oracles()
SF_SMOKE_DIR = "/root/testdata/sf0.001"


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _spark_type_class(dt: str) -> str:
    """Collapse a Spark dtype string to the class the driver's hash keys on.

    Integer widths collapse (python ints hash alike); DECIMAL is kept
    distinct from both int and float — that is exactly the HUGEINT bug
    class that kept q24 red for two rounds.
    """
    if dt.startswith("decimal"):
        return "decimal"
    if dt in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if dt in ("float", "double"):
        return "float"
    if dt.startswith("timestamp"):
        return "timestamp"
    if dt.startswith("array"):
        return "array"
    if dt == "boolean":
        return "bool"
    if dt == "string":
        return "str"
    return dt


def _duck_type_class(t: str) -> str:
    """DuckDB DESCRIBE type name → driver hash type class.

    HUGEINT is deliberately NOT 'int': duckdb's pandas/arrow export turns
    it into float64/decimal128, which is what desynced the driver hash.
    """
    s = t.upper()
    if s.startswith("DECIMAL") or s == "HUGEINT":
        return "decimal"
    if s in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if s in ("FLOAT", "DOUBLE", "REAL"):
        return "float"
    if s.startswith("TIMESTAMP"):
        return "timestamp"
    if s.endswith("[]") or s.startswith("LIST"):
        return "array"
    if s == "BOOLEAN":
        return "bool"
    if s in ("VARCHAR", "TEXT", "STRING"):
        return "str"
    if s == "DATE":
        return "date"
    return s.lower()


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        # absorb -0.0 vs 0.0 and representation noise beyond round(…, 6)
        return round(v, 6) + 0.0
    return v


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def _assert_no_cartesian(name, sdf):
    """Registry-wide physical-plan audit, riding on the plan each test
    builds anyway: no registered query may plan a CartesianProduct —
    the one join strategy that cannot survive any scale-up (all-pairs
    shuffle of both sides). Intentional small-side cross joins (q52's
    11-row literal temperature grid) must plan as
    BroadcastNestedLoopJoin, which this audit allows."""
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    bad = [line.strip() for line in plan.splitlines() if "CartesianProduct" in line]
    assert not bad, f"{name}: CartesianProduct in plan: {bad[:2]}"


# Queries whose DOCUMENTED degenerate regime is a specific scale factor
# (none currently: q112's sf0.1 stopword collapse was fixed in r6 by
# moving its term space to word bigrams — see the q112 oracle note).
_SF_DEGENERATE: dict[str, tuple] = {}


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_match(spark, sf_dir, name):
    for suffix in _SF_DEGENERATE.get(name, ()):
        if sf_dir.rstrip("/").endswith(suffix.strip("/")):
            pytest.skip(f"{name}: documented degenerate regime at {suffix}")
    sdf = QUERIES[name](spark, sf_dir)
    _assert_no_cartesian(name, sdf)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns
    spark_types = {c: _spark_type_class(t) for c, t in sdf.dtypes}

    con = _duck(sf_dir)
    res = con.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    duck_schema = con.execute(
        f"DESCRIBE SELECT * FROM ({ORACLES[name]})"
    ).fetchall()
    con.close()
    duck_types = {row[0]: _duck_type_class(row[1]) for row in duck_schema}

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    type_diffs = {
        c: (spark_types[c], duck_types[c])
        for c in spark_cols
        if spark_types[c] != duck_types[c]
    }
    assert not type_diffs, (
        f"{name}: declared type-class mismatch (driver hash is type-"
        f"sensitive): {type_diffs}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s_canon = _canon(spark_rows, spark_cols)
    d_canon = _canon(duck_rows, duck_cols)
    mismatches = [
        (a, b) for a, b in zip(s_canon, d_canon) if a != b
    ]
    assert not mismatches, f"{name}: first value mismatches: {mismatches[:5]}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_no_oracle_queries_run(spark, sf_dir, name):
    """Rows-only check for non-SQL-expressible ops (matches driver)."""
    sdf = QUERIES[name](spark, sf_dir)
    _assert_no_cartesian(name, sdf)
    assert sdf.count() >= 0
    assert len(sdf.columns) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
