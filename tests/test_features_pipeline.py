"""Golden tests for the feature-extraction plan (SURVEY.md §3.2):
ICD mapping branches, hadm as-of imputation (all three FIXTURES.md
branches), NDC/drug normalization, UoM majority filter, outlier clamp,
summary aggregates."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.functions.scalars import epc_classes, ndc_normalize
from mimic_iv_data_pipeline_spark.plans.features import (
    clean_events,
    features_selection,
    generate_summary,
    impute_hadm_ids,
    prepare_icd_map,
    preproc_diagnoses,
    preproc_events,
    preproc_meds,
)


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def icd_map(spark):
    raw = spark.createDataFrame(
        [
            ("DX", "1", "heart failure", "428", "I50", "A"),
            ("DX", "2", "heart failure alt", "428", "I509", "B"),  # dup root → first-match I50
            ("DX", "3", "ckd", "585", "N18", "A"),
        ],
        "diagnosis_type string, diagnosis_code string, diagnosis_description string, icd9cm string, icd10cm string, flags string",
    )
    return prepare_icd_map(raw)


@pytest.fixture(scope="module")
def diagnoses(spark):
    return spark.createDataFrame(
        [
            (1, 101, "4280", 9),    # ICD-9 mapped root 428 → I50
            (1, 101, "58510", 9),   # ICD-9 mapped root 585 → N18
            (2, 102, "V5412", 9),   # ICD-9 unmapped → kept
            (2, 102, "I25", 10),    # already ICD-10 → untouched
            (9, 999, "4280", 9),    # not in cohort → filtered
        ],
        "subject_id long, hadm_id long, icd_code string, icd_version int",
    )


@pytest.fixture(scope="module")
def cohort_ids(spark):
    return spark.createDataFrame([(101,), (102,)], "hadm_id long")


def test_icd_convert(spark, diagnoses, cohort_ids, icd_map):
    out = preproc_diagnoses(diagnoses, cohort_ids, icd_map, grouping="convert")
    got = {(r["hadm_id"], r["icd_code"]): r["root_icd10"] for r in out.collect()}
    assert got == {
        (101, "4280"): "I50",     # mapped, first-match row (I50 < I509)
        (101, "58510"): "N18",
        (102, "V5412"): "V5412",  # unmapped fallback
        (102, "I25"): "I25",      # v10 passthrough
    }


def test_icd_group_and_keep(spark, diagnoses, cohort_ids, icd_map):
    grouped = preproc_diagnoses(diagnoses, cohort_ids, icd_map, grouping="group")
    got = {r["icd_code"]: r["root_icd10"] for r in grouped.collect()}
    assert got["58510"] == "N18" and got["V5412"] == "V54"
    kept = preproc_diagnoses(diagnoses, cohort_ids, icd_map, grouping="keep")
    assert "root_icd10" not in kept.columns and kept.count() == 4


def test_impute_hadm_ids(spark):
    admissions = spark.createDataFrame(
        [
            (1, 101, ts("2150-01-01T00:00:00"), ts("2150-01-10T00:00:00"), None, 0, "P", "W"),
            (1, 102, ts("2150-01-08T00:00:00"), ts("2150-01-20T00:00:00"), None, 0, "P", "W"),
            (2, 201, ts("2150-02-01T00:00:00"), ts("2150-02-05T00:00:00"), None, 0, "P", "W"),
        ],
        "subject_id long, hadm_id long, admittime timestamp, dischtime timestamp, deathtime timestamp, hospital_expire_flag int, insurance string, ethnicity string",
    )
    labs = spark.createDataFrame(
        [
            # inside exactly one admission → 101
            (1, None, 50912, ts("2150-01-02T00:00:00"), 1.0, "mg/dL"),
            # inside overlapping 101 & 102 → tie-break smallest charttime−admittime → 102
            (1, None, 50912, ts("2150-01-09T00:00:00"), 2.0, "mg/dL"),
            # outside all admissions → stays null
            (1, None, 50912, ts("2150-06-01T00:00:00"), 3.0, "mg/dL"),
            # already has hadm_id → untouched
            (2, 201, 50912, ts("2150-02-02T00:00:00"), 4.0, "mg/dL"),
        ],
        "subject_id long, hadm_id long, itemid long, charttime timestamp, valuenum double, valueuom string",
    )
    out = impute_hadm_ids(labs, admissions)
    got = {r["valuenum"]: r["hadm_id"] for r in out.collect()}
    assert got == {1.0: 101, 2.0: 102, 3.0: None, 4.0: 201}
    assert out.count() == 4


def test_impute_hadm_ids_day_granularity(spark):
    """Reference parity: hadm_imputer .normalize()s all three
    timestamps to midnight, so a lab charted on the admission DAY but
    before the admit timestamp still imputes."""
    admissions = spark.createDataFrame(
        [(1, 101, ts("2150-01-05T14:00:00"), ts("2150-01-10T09:00:00"), None, 0, "P", "W")],
        "subject_id long, hadm_id long, admittime timestamp, dischtime timestamp, deathtime timestamp, hospital_expire_flag int, insurance string, ethnicity string",
    )
    labs = spark.createDataFrame(
        [
            # admission day, BEFORE admit timestamp → 101
            (1, None, 50912, ts("2150-01-05T08:00:00"), 1.0, "mg/dL"),
            # discharge day, AFTER discharge timestamp → 101
            (1, None, 50912, ts("2150-01-10T23:00:00"), 2.0, "mg/dL"),
            # day after discharge → null
            (1, None, 50912, ts("2150-01-11T00:30:00"), 3.0, "mg/dL"),
        ],
        "subject_id long, hadm_id long, itemid long, charttime timestamp, valuenum double, valueuom string",
    )
    day = impute_hadm_ids(labs, admissions)
    got = {r["valuenum"]: r["hadm_id"] for r in day.collect()}
    assert got == {1.0: 101, 2.0: 101, 3.0: None}


def test_preproc_events_sanity_filters(spark):
    cohort = spark.createDataFrame(
        [(201, ts("2150-01-01T00:00:00"), 48)],
        "stay_id long, intime timestamp, los_hours long",
    )
    chart = spark.createDataFrame(
        [
            (201, ts("2149-12-31T12:00:00"), 220045, 80.0, "bpm"),   # before admit → dropped
            (201, ts("2150-01-01T05:30:00"), 220045, 82.0, "bpm"),   # t=5
            (201, ts("2150-01-03T01:00:00"), 220045, 90.0, "bpm"),   # t=49 > los → dropped
        ],
        "stay_id long, charttime timestamp, itemid long, valuenum double, valueuom string",
    )
    out = preproc_events(chart, cohort, "stay_id", "charttime", "intime")
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["event_time_from_admit"] == 5


def test_preproc_meds(spark):
    cohort_ids = spark.createDataFrame([(101,)], "hadm_id long")
    rx = spark.createDataFrame(
        [
            (1, 101, "  Aspirin EC ", ts("2150-01-01T00:00:00"), ts("2150-01-02T00:00:00"), "63-003-01", "0.5"),
            (1, 101, "Unknown Drug", ts("2150-01-01T00:00:00"), ts("2150-01-02T00:00:00"), "9999-9999", "1-2"),
        ],
        "subject_id long, hadm_id long, drug string, starttime timestamp, stoptime timestamp, ndc string, dose_val_rx string",
    )
    ndc_map = spark.createDataFrame(
        [("63-003", "ASPIRIN"), ("1-1", "OTHER")],
        "productndc string, nonproprietaryname string",
    )
    out = preproc_meds(rx, cohort_ids, ndc_map).collect()
    by_drug = {r["drug"]: r for r in out}
    a = by_drug["  Aspirin EC "]
    assert a["drug_norm"] == "aspirin_ec"
    assert a["dose_val"] == 0.5
    # rx ndc '63-003-01' pads sections to 5+4+2 → '00063000301'; the
    # 9-digit product prefix '000630003' matches the map → 'aspirin'
    assert a["ndc11"] == "00063000301"
    assert a["generic_name"] == "aspirin"
    u = by_drug["Unknown Drug"]
    assert u["dose_val"] is None  # '1-2' is not numeric → lenient null
    assert u["generic_name"] == "unknown_drug"  # fallback to normalized name


def test_ndc_normalize_and_epc(spark):
    df = spark.createDataFrame(
        [("63-003-01", "ANALGESIC [EPC],OTHER,NSAID [EPC]")],
        "ndc string, pharm_classes string",
    )
    row = df.select(
        ndc_normalize(F.col("ndc")).alias("n"),
        epc_classes(F.col("pharm_classes")).alias("epc"),
    ).first()
    assert row["n"] == "00063000301"
    assert row["epc"] == ["ANALGESIC [EPC]", "NSAID [EPC]"]


def test_clean_events_uom_and_outliers(spark):
    rows = []
    # itemid 1: 19 'mg' + 1 'g' → majority 95% → drop the 'g' row
    rows += [(1, float(i), "mg") for i in range(19)]
    rows += [(1, 99.0, "g")]
    # itemid 2: 50/50 split → below cutoff → keep all
    rows += [(2, 1.0, "mg"), (2, 2.0, "g")]
    df = spark.createDataFrame(rows, "itemid long, valuenum double, valueuom string")
    out = clean_events(df, uom_cutoff=0.9, outlier_pcts=None)
    counts = {r["itemid"]: r["n"] for r in out.groupBy("itemid").agg(F.count("*").alias("n")).collect()}
    assert counts == {1: 19, 2: 2}
    assert out.filter((F.col("itemid") == 1) & (F.col("valueuom") == "g")).count() == 0

    clamped = clean_events(df, uom_col=None, outlier_pcts=(0.05, 0.95))
    mx = clamped.filter(F.col("itemid") == 1).agg(F.max("valuenum")).first()[0]
    assert mx < 99.0  # the outlier got clamped down


def test_generate_summary(spark):
    events = spark.createDataFrame(
        [
            (101, 10, 5.0),
            (101, 10, 0.0),   # zero → missing
            (102, 10, 3.0),
            (101, 20, None),  # null → NOT missing (pandas NaN==0 is False)
        ],
        "hadm_id long, itemid long, valuenum double",
    )
    out = {r["itemid"]: r for r in generate_summary(events, "hadm_id", "itemid", "valuenum").collect()}
    assert out[10]["total_count"] == 3
    assert out[10]["mean_frequency"] == 1.5  # (2 in 101 + 1 in 102) / 2 visits
    assert abs(out[10]["missing_pct"] - 100 / 3) < 1e-4
    assert out[20]["missing_pct"] == 0.0  # reference: only value==0 counts


def test_features_selection(spark):
    events = spark.createDataFrame(
        [(101, 10), (101, 20), (102, 30)], "hadm_id long, itemid long"
    )
    allow = spark.createDataFrame([(10,), (30,)], "itemid long")
    out = features_selection(events, allow, "itemid")
    assert sorted(r["itemid"] for r in out.collect()) == [10, 30]


def test_write_summary_text(tmp_path):
    from mimic_iv_data_pipeline_spark.sources.sinks import write_summary_text

    p = str(tmp_path / "summary.txt")
    write_summary_text(["n_visits: 10", "positives: 3"], p)
    assert open(p).read() == "n_visits: 10\npositives: 3\n"


def test_anchor_group_end_year(spark):
    from mimic_iv_data_pipeline_spark.functions.scalars import anchor_group_end_year

    df = spark.createDataFrame([("2008 - 2010",)], "g string")
    assert df.select(anchor_group_end_year(F.col("g")).alias("y")).first()["y"] == 2010
