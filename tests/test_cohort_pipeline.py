"""Golden tests for the cohort-extraction plan (SURVEY.md §3.1) on
MIMIC-shaped fixtures (FIXTURES.md): every label task checked against a
hand-verifiable expectation, plus a brute-force property check of the
readmission window against the reference's loop semantics."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.plans.cohort import (
    cohort_summary,
    extract_cohort,
    label_mortality,
)
from mimic_iv_data_pipeline_spark.operators.windows import label_readmission


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def patients(spark):
    rows = [
        # subject, gender, age, anchor_year, group, dod
        (1, "F", 65, 2150, "2008 - 2010", ts("2150-01-05T12:00:00")),  # dies in visit
        (2, "M", 40, 2150, "2008 - 2010", None),                        # alive
        (3, "F", 17, 2150, "2008 - 2010", None),                        # minor → filtered
        (4, "M", 80, 2150, "2008 - 2010", ts("2151-06-01T00:00:00")),  # dies later
        (5, "F", 55, 2150, "2008 - 2010", None),                        # readmit case
    ]
    return spark.createDataFrame(
        rows, "subject_id long, gender string, anchor_age int, anchor_year int, anchor_year_group string, dod timestamp"
    )


@pytest.fixture(scope="module")
def admissions(spark):
    rows = [
        # subject, hadm, admit, disch, deathtime, expire, insurance, ethnicity
        (1, 101, ts("2150-01-01T00:00:00"), ts("2150-01-10T00:00:00"), ts("2150-01-05T12:00:00"), 1, "Medicare", "WHITE"),
        (2, 102, ts("2150-02-01T00:00:00"), ts("2150-02-03T00:00:00"), None, 0, "Private", "BLACK"),
        (3, 103, ts("2150-03-01T00:00:00"), ts("2150-03-02T00:00:00"), None, 0, "Private", "ASIAN"),
        (4, 104, ts("2150-04-01T00:00:00"), ts("2150-04-05T00:00:00"), None, 0, "Medicaid", "WHITE"),
        # subject 5: two visits 10 days apart (readmit within 30d), then one 200 days later
        (5, 105, ts("2150-05-01T00:00:00"), ts("2150-05-03T00:00:00"), None, 0, "Private", "OTHER"),
        (5, 106, ts("2150-05-13T00:00:00"), ts("2150-05-20T00:00:00"), None, 0, "Private", "OTHER"),
        (5, 107, ts("2150-12-06T00:00:00"), ts("2150-12-10T00:00:00"), None, 0, "Private", "OTHER"),
    ]
    return spark.createDataFrame(
        rows,
        "subject_id long, hadm_id long, admittime timestamp, dischtime timestamp, deathtime timestamp, hospital_expire_flag int, insurance string, ethnicity string",
    )


@pytest.fixture(scope="module")
def icustays(spark):
    rows = [
        (1, 101, 201, ts("2150-01-02T00:00:00"), ts("2150-01-08T00:00:00"), 6.0),
        (2, 102, 202, ts("2150-02-01T06:00:00"), ts("2150-02-02T06:00:00"), 1.0),
        (3, 103, 203, ts("2150-03-01T00:00:00"), ts("2150-03-01T12:00:00"), 0.5),
        (4, 104, 204, ts("2150-04-01T00:00:00"), ts("2150-04-04T00:00:00"), 3.0),
    ]
    return spark.createDataFrame(
        rows, "subject_id long, hadm_id long, stay_id long, intime timestamp, outtime timestamp, los double"
    )


def test_mortality_icu(spark, icustays, patients, admissions):
    cohort = extract_cohort(icustays, patients, admissions, use_icu=True, label="mortality")
    got = {r["stay_id"]: r["label"] for r in cohort.collect()}
    # subject 1 died inside the ICU window → 1; subject 3 filtered (minor);
    # subject 4 died a year later → 0
    assert got == {201: 1, 202: 0, 204: 0}


def test_mortality_keeps_demographics(spark, icustays, patients, admissions):
    cohort = extract_cohort(icustays, patients, admissions, use_icu=True, label="mortality")
    row = cohort.filter(F.col("stay_id") == 201).first()
    assert row["insurance"] == "Medicare" and row["ethnicity"] == "WHITE"
    assert row["Age"] == 65 and row["los_hours"] == 144


def test_readmission_hosp(spark, admissions, patients):
    cohort = extract_cohort(
        admissions, patients, None, use_icu=False, label="readmission", gap_days=30
    )
    got = {r["hadm_id"]: r["label"] for r in cohort.collect()}
    # 101 dropped (died in hospital / expire flag). 105 → readmitted 10d
    # after discharge → 1. 106 → next visit 200d later → 0. 107 last → 0.
    assert got == {102: 0, 104: 0, 105: 1, 106: 0, 107: 0}


def test_los_hosp(spark, admissions, patients):
    cohort = extract_cohort(
        admissions, patients, None, use_icu=False, label="los", los_threshold_hours=72
    )
    got = {r["hadm_id"]: r["label"] for r in cohort.collect()}
    # los hours: 101=216 → 1, 102=48 → 0, 104=96 → 1, 105=48 → 0, 106=168 → 1, 107=96 → 1
    assert got == {101: 1, 102: 0, 104: 1, 105: 0, 106: 1, 107: 1}


def test_cohort_summary(spark, icustays, patients, admissions):
    cohort = extract_cohort(icustays, patients, admissions, use_icu=True, label="mortality")
    summary = {r["label"]: r["n_visits"] for r in cohort_summary(cohort).collect()}
    assert summary == {1: 1, 0: 2}


def test_readmission_matches_bruteforce(spark):
    """Property: the set-level labeler equals the reference's per-subject
    loop (day_intervals_cohort.py:136-177) on a random visit set that
    includes overlapping stays (admit inside another visit)."""
    import random
    from datetime import timedelta

    rng = random.Random(42)
    rows = []  # (subject, hadm, admit_day, disch_day)
    hadm = 0
    for subject in range(30):
        for _ in range(rng.randint(1, 6)):
            hadm += 1
            a = rng.randint(0, 400)
            rows.append((subject, hadm, a, a + rng.randint(1, 10)))

    base = datetime(2150, 1, 1)
    df = spark.createDataFrame(
        [
            (s, h, base + timedelta(days=a), base + timedelta(days=d))
            for (s, h, a, d) in rows
        ],
        "subject_id long, hadm_id long, admittime timestamp, dischtime timestamp",
    )
    gap = 30
    labeled = label_readmission(df, gap_days=gap)
    got = {r["hadm_id"]: r["label"] for r in labeled.collect()}

    # brute force: ∃ other visit with admit > disch and admit − disch ≤ gap
    by_subject: dict[int, list] = {}
    for s, h, a, d in rows:
        by_subject.setdefault(s, []).append((h, a, d))
    for visits in by_subject.values():
        for h, a, d in visits:
            expect = any(a2 > d and a2 - d <= gap for (_h2, a2, _d2) in visits)
            assert got[h] == int(expect), f"hadm {h}: got {got[h]} expect {int(expect)}"
