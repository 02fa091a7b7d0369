"""Source/sink tests (SURVEY.md §2.1): gzip CSV with explicit schema,
TSV mapping scan, glob source, parquet round-trip, version aliasing."""

from __future__ import annotations

import gzip

import pytest
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.sources.readers import (
    read_csv_gz,
    read_glob_csv,
    read_tsv_map,
)
from mimic_iv_data_pipeline_spark.sources.schemas import (
    ICD9_TO_ICD10_MAP,
    PATIENTS,
    align_columns,
)
from mimic_iv_data_pipeline_spark.sources.sinks import write_parquet


@pytest.fixture(scope="module")
def srcdir(tmp_path_factory):
    d = tmp_path_factory.mktemp("sources")
    with gzip.open(d / "patients.csv.gz", "wt") as fh:
        fh.write(
            "subject_id,gender,anchor_age,anchor_year,anchor_year_group,dod\n"
            "1,F,65,2150,2008 - 2010,2150-01-05 12:00:00\n"
            "2,M,40,2150,2008 - 2010,\n"
        )
    with open(d / "icd_map.tsv", "w") as fh:
        fh.write(
            "diagnosis_type\tdiagnosis_code\tdiagnosis_description\ticd9cm\ticd10cm\tflags\n"
            "DX\t1\theart failure\t428\tI50\tA\n"
        )
    for i in range(3):
        with open(d / f"chunk_{i}.csv", "w") as fh:
            fh.write("subject_id,gender,anchor_age,anchor_year,anchor_year_group,dod\n")
            fh.write(f"{10+i},M,3{i},2150,2008 - 2010,\n")
    return str(d)


def test_read_csv_gz_schema_and_usecols(spark, srcdir):
    df = read_csv_gz(
        spark, f"{srcdir}/patients.csv.gz", PATIENTS, usecols=["subject_id", "dod"]
    )
    assert df.columns == ["subject_id", "dod"]
    rows = {r["subject_id"]: r["dod"] for r in df.collect()}
    assert rows[1] is not None and rows[2] is None  # parsed timestamp + null


def test_read_tsv_map(spark, srcdir):
    m = read_tsv_map(spark, f"{srcdir}/icd_map.tsv", ICD9_TO_ICD10_MAP)
    row = m.first()
    assert row["icd9cm"] == "428" and row["icd10cm"] == "I50"


def test_read_glob_csv(spark, srcdir):
    df = read_glob_csv(spark, f"{srcdir}/chunk_*.csv", PATIENTS)
    assert df.count() == 3
    assert sorted(r["subject_id"] for r in df.collect()) == [10, 11, 12]


def test_parquet_roundtrip_overwrites(spark, srcdir, tmp_path):
    df = read_glob_csv(spark, f"{srcdir}/chunk_*.csv", PATIENTS)
    out = str(tmp_path / "pq")
    write_parquet(df, out)
    write_parquet(df, out)  # a re-run replaces the stage file, never appends
    back = spark.read.parquet(out)
    assert back.count() == 3
    assert sorted(back.columns) == sorted(df.columns)


def test_align_columns_version_drift(spark):
    v2 = spark.createDataFrame([(1, "WHITE")], "subject_id long, race string")
    aligned = align_columns(v2, version="v2")
    assert "ethnicity" in aligned.columns and "race" not in aligned.columns
    v1 = spark.createDataFrame([(1, "WHITE")], "subject_id long, ethnicity string")
    assert align_columns(v1, version="v1").columns == v1.columns
