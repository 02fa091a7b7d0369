"""Tests: disease-cohort filter, ML assembly boundary."""

from __future__ import annotations

import pytest

from mimic_iv_data_pipeline_spark.plans.cohort import filter_by_diagnosis
from mimic_iv_data_pipeline_spark.plans.features import prepare_icd_map
from mimic_iv_data_pipeline_spark.plans.ml_assembly import (
    dl_tensor_frame,
    ml_feature_matrix,
    train_test_split_ids,
)


def test_filter_by_diagnosis(spark):
    cohort = spark.createDataFrame(
        [(101,), (102,), (103,)], "hadm_id long"
    )
    diagnoses = spark.createDataFrame(
        [
            (1, 101, "4280", 9),   # ICD-9 → I50 (heart failure) via map
            (2, 102, "I509", 10),  # native ICD-10 heart failure
            (3, 103, "N18", 10),   # CKD — not HF
        ],
        "subject_id long, hadm_id long, icd_code string, icd_version int",
    )
    icd_map = prepare_icd_map(
        spark.createDataFrame(
            [("DX", "1", "hf", "428", "I50", "A")],
            "diagnosis_type string, diagnosis_code string, diagnosis_description string, icd9cm string, icd10cm string, flags string",
        )
    )
    out = filter_by_diagnosis(cohort, diagnoses, icd_map, "I50")
    assert sorted(r["hadm_id"] for r in out.collect()) == [101, 102]


@pytest.fixture(scope="module")
def dense_ts(spark):
    rows = [
        (201, 7, 0, 1.0),
        (201, 7, 1, 3.0),
        (201, 8, 0, 10.0),
        (202, 7, 0, 5.0),
    ]
    return spark.createDataFrame(rows, "stay_id long, itemid long, bucket long, value double")


def test_ml_feature_matrix(spark, dense_ts):
    wide = ml_feature_matrix(dense_ts, feature_codes=[7, 8], agg="mean")
    rows = {r["stay_id"]: r for r in wide.collect()}
    assert rows[201]["7"] == 2.0 and rows[201]["8"] == 10.0
    assert rows[202]["7"] == 5.0 and rows[202]["8"] is None
    long = ml_feature_matrix(dense_ts, agg="max", wide=False)
    got = {(r["stay_id"], r["itemid"]): r["feature"] for r in long.collect()}
    assert got[(201, 7)] == 3.0


def test_dl_tensor_frame(spark, dense_ts):
    tensors = {r["stay_id"]: r["series"] for r in dl_tensor_frame(dense_ts).collect()}
    assert tensors[201][7] == [1.0, 3.0]  # time-ordered
    assert tensors[201][8] == [10.0]
    assert tensors[202][7] == [5.0]


def test_train_test_split_ids(spark, dense_ts):
    train, test = train_test_split_ids(dense_ts, weights=(0.5, 0.5))
    train_ids = {r["stay_id"] for r in train.collect()}
    test_ids = {r["stay_id"] for r in test.collect()}
    assert train_ids | test_ids == {201, 202}
    assert not (train_ids & test_ids)
    # reproducible
    train2, _ = train_test_split_ids(dense_ts, weights=(0.5, 0.5))
    assert {r["stay_id"] for r in train2.collect()} == train_ids
