"""Sources (SURVEY.md §2.1).

The reference reads gzip CSV with ``usecols``/``dtype``/``parse_dates``
(S1: ``day_intervals_cohort.py:30,43,63,88``), tab/latin-1 mapping TSVs
(S3: ``hosp_preprocess_util.py:152-155,242-247``), hand-rolled 5-10M-row
chunked scans (S2: ``hosp_preprocess_util.py:296-327``) and csv globs
(S8: ``preprocess_outcomes.py:48-53``).

On Spark: S2 disappears entirely (partitioned scans bound memory), and
S1/S3/S8 are one-liner declarative reads with *explicit* schemas — never
``inferSchema`` in production, so the scan is single-pass and the plan's
``ReadSchema`` only carries the projected columns.

``load_table`` is the one reader for the registered queries'
path-addressed testdata tables (``queries/`` calls nothing else). A raw
``spark.read.parquet`` starts a schema-inference job on every build of
the query that holds it; ``load_table`` pays that job once per table
per session through the schema catalog below, and sends ``events``
through the nanos/NTZ timestamp shim.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# In-process parquet SCHEMA catalog.
# ``spark.read.parquet`` without a schema re-resolves the datasource and
# runs a footer-reading Spark job on every call — 80-100 ms per read at
# sf0.001 on a 4-core host, against 17-31 ms for a catalogued one.
# Production engines put table schemas in a catalog (metastore)
# precisely so per-query reads are schema-full; this dict is that
# catalog for the path-addressed testdata layout. It holds ONLY
# StructType metadata — never data, rows or plans — and self-invalidates
# when the file changes (key includes size + mtime_ns).
_SCHEMA_CATALOG: dict[tuple[str, int, int], T.StructType] = {}


def _scan(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan with the catalogued schema, inferred on first use."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)  # glob/remote path — let Spark resolve it
    key = (os.path.abspath(path), st.st_size, st.st_mtime_ns)
    if key not in _SCHEMA_CATALOG:
        _SCHEMA_CATALOG[key] = spark.read.parquet(path).schema
    return spark.read.schema(_SCHEMA_CATALOG[key]).parquet(path)


TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events scan, tolerant of nanosecond parquet timestamps.

    The driver's events table stores ``ts`` as parquet TIMESTAMP(NANOS),
    which vanilla Spark rejects (PARQUET_TYPE_ILLEGAL). We read nanos as
    long (``spark.sql.legacy.parquet.nanosAsLong``) and convert to a
    microsecond timestamp with exact integer division — the same
    truncation DuckDB applies when reading TIMESTAMP_NS, so oracle
    comparisons agree to the microsecond.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # schema catalog: inferred AFTER the nanos shim conf is set, so the
    # cached StructType reflects the same reading the inference did
    raw = _scan(spark, f"{sf_dir}/events.parquet")
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type == "bigint":  # TIMESTAMP(NANOS) read as long under the shim
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # TIMESTAMP(MICROS, isAdjustedToUTC=false) — later testdata
        # generations use this; in the engine's UTC session the NTZ and
        # LTZ readings denote the same instant, so normalize to LTZ for
        # one uniform type surface across data versions
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read testdata table ``name`` under ``sf_dir`` with its catalogued schema.

    The one table reader for registered queries. A raw
    ``spark.read.parquet`` infers the schema with a Spark job on every
    call, so a query holding one starts a job each time it is built;
    here the inferred schema is cached per file (``_scan``) and later
    reads start none. ``events`` goes through the nanos/NTZ shim
    (``_read_events``), so every query sees ``ts`` as a timestamp.
    """
    if name == "events":
        return _read_events(spark, sf_dir)
    return _scan(spark, f"{sf_dir}/{name}.parquet")


def read_csv_gz(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    usecols: list[str] | None = None,
) -> DataFrame:
    """S1: schema-full CSV scan (gzip decoded automatically by codec).

    ``usecols`` mirrors the reference's projection pushdown
    (``day_intervals_cohort.py:34``); with an explicit select Catalyst
    prunes the parse to those columns.
    """
    df = spark.read.schema(schema).option("header", "true").csv(path)
    return df.select(*usecols) if usecols else df


def read_tsv_map(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    encoding: str = "UTF-8",
) -> DataFrame:
    """S3: mapping-table scan (ICD9→10 TSV, NDC latin-1 TSV).

    Mapping tables are broadcast-sized (the real ICD map is 24,286 rows,
    ``utils/mappings/ICD9_to_ICD10_mapping.txt``); consumers wrap them in
    ``F.broadcast`` at the join site.
    """
    return (
        spark.read.schema(schema)
        .option("sep", "\t")
        .option("header", "true")
        .option("encoding", encoding)
        .csv(path)
    )


def read_glob_csv(spark: SparkSession, glob: str, schema: T.StructType) -> DataFrame:
    """S8: multi-file glob source (``glob(dataFile+'/*.csv')`` concat)."""
    return spark.read.schema(schema).option("header", "true").csv(glob)
