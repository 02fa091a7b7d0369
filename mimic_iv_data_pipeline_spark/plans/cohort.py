"""Entry point 1: cohort extraction + outcome labeling.

Re-expresses ``extract_data`` (``day_intervals_cohort.py:252-370``) as
ONE lazy DataFrame DAG. The reference splits this across
``get_visit_pts`` (``:16-94``), ``get_case_ctrls`` (``:216-249``) and
three python labelers (``partition_by_mort`` ``:180-213``,
``partition_by_readmit`` ``:136-177`` — a loop over groupby,
``partition_by_los`` ``:114-133``); all three become ``when()``
expressions / one window.

Physical shape for 100 TB: visits × patients is fact×dim (patients
broadcast); the readmission label is one window shuffle on subject_id;
everything else is narrow. No collect, no loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.operators.temporal import hours_between
from mimic_iv_data_pipeline_spark.operators.windows import label_readmission


def visits_with_demographics(
    visits: DataFrame,
    patients: DataFrame,
    admissions: DataFrame | None,
    use_icu: bool,
    min_age: int = 18,
) -> DataFrame:
    """``get_visit_pts`` (``day_intervals_cohort.py:16-94``).

    * ICU mode: visits = icustays (intime/outtime/los-days); join patients
      for dod + anchor columns.
    * hosp mode: visits = admissions; derive ``los`` hours from
      disch−admit (the reference's timedelta string-split, reproduced as
      floor-hours — SURVEY §7.3d) and drop ``hospital_expire_flag == 1``
      rows only for readmission-style tasks (caller filters).
    * Age at visit = anchor_age (the reference uses anchor_age directly
      at ``day_intervals_cohort.py:84``); adult filter ``Age >= min_age``.
    """
    admit_col, disch_col = ("intime", "outtime") if use_icu else ("admittime", "dischtime")
    out = visits.join(
        F.broadcast(
            patients.select(
                "subject_id", "gender", "anchor_age", "anchor_year", "dod"
            )
        ),
        on="subject_id",
        how="inner",
    )
    # one projection for Age + los_hours (r12, guide §5 — each
    # withColumn is an eager JVM re-analysis of the whole tree)
    los_sql = (
        hours_between(F.col(disch_col), F.col(admit_col))
        if not use_icu
        else F.expr("CAST(los * 24 AS BIGINT)")
    )
    out = out.select(
        "*", F.col("anchor_age").alias("Age"), los_sql.alias("los_hours")
    ).filter(F.expr(f"Age >= {int(min_age)}"))
    if admissions is not None and use_icu:
        # attach ethnicity/insurance from the admission dim (J1 shape,
        # day_intervals_cohort.py:88-89)
        out = out.join(
            F.broadcast(admissions.select("hadm_id", "insurance", "ethnicity")),
            on="hadm_id",
            how="left",
        )
    return out


def label_mortality(
    cohort: DataFrame, admit_col: str, disch_col: str, dod_col: str = "dod"
) -> DataFrame:
    """``partition_by_mort`` (``day_intervals_cohort.py:180-213``):
    label 1 iff date-of-death falls inside the visit window (nulls → 0;
    the reference fills dod-NaT with 0 labels via np.where)."""
    inside = (
        F.col(dod_col).isNotNull()
        & (F.col(dod_col) >= F.col(admit_col))
        & (F.col(dod_col) <= F.col(disch_col))
    )
    return cohort.withColumn("label", F.when(inside, 1).otherwise(0).cast("int"))


def label_los(cohort: DataFrame, threshold_hours: int) -> DataFrame:
    """``partition_by_los`` (``day_intervals_cohort.py:114-133``):
    label 1 iff los exceeds the threshold (reference compares los days
    to `time`; we keep hours for exactness)."""
    return cohort.withColumn(
        "label",
        F.when(F.col("los_hours") > threshold_hours, 1).otherwise(0).cast("int"),
    )


def extract_cohort(
    visits: DataFrame,
    patients: DataFrame,
    admissions: DataFrame | None = None,
    use_icu: bool = True,
    label: str = "mortality",
    gap_days: int = 30,
    los_threshold_hours: int = 72,
    min_age: int = 18,
    disease_filter: tuple[DataFrame, DataFrame, str] | None = None,
) -> DataFrame:
    """``extract_data`` (``day_intervals_cohort.py:252-370``): build the
    labeled cohort for one of the three tasks.

    Readmission task additionally drops visits where the patient died
    before discharge (``day_intervals_cohort.py:34-36,57`` — you cannot
    be readmitted if you died), exactly like the reference.

    ``disease_filter=(diagnoses, icd_map, icd10_prefix)`` restricts the
    cohort to visits carrying a matching diagnosis (the reference's
    ``disease_label`` path, ``:342-348``), applied before labeling like
    ``disease_cohort.extract_diag_cohort`` at ``:37-40``.
    """
    admit_col, disch_col = ("intime", "outtime") if use_icu else ("admittime", "dischtime")
    cohort = visits_with_demographics(visits, patients, admissions, use_icu, min_age)
    if disease_filter is not None:
        diagnoses, icd_map, prefix = disease_filter
        cohort = filter_by_diagnosis(cohort, diagnoses, icd_map, prefix)
    if label == "mortality":
        return label_mortality(cohort, admit_col, disch_col)
    if label == "los":
        return label_los(cohort, los_threshold_hours)
    if label == "readmission":
        alive = cohort.filter(
            F.col("dod").isNull() | (F.col("dod") >= F.col(disch_col))
        )
        if "hospital_expire_flag" in cohort.columns:
            alive = alive.filter(F.col("hospital_expire_flag") == 0)
        return label_readmission(
            alive,
            subject_col="subject_id",
            admit_col=admit_col,
            disch_col=disch_col,
            gap_days=gap_days,
        )
    raise ValueError(f"unknown label task: {label}")


def filter_by_diagnosis(
    cohort: DataFrame,
    diagnoses: DataFrame,
    icd_map: DataFrame,
    icd10_prefix: str,
    id_col: str = "hadm_id",
) -> DataFrame:
    """Disease-phenotype cohort filter (``disease_cohort.
    extract_diag_cohort``, ``preprocessing/day_intervals_preproc/
    disease_cohort.py:29-91``): keep visits with ≥1 diagnosis whose
    ICD-10(-converted) code starts with ``icd10_prefix`` (e.g. 'I50'
    heart failure, 'N18' CKD).

    The reference re-reads diagnoses from disk and scans the map per
    code (O(codes×map)); here: broadcast-map conversion (J9) + prefix
    filter + semi join — diagnoses are scanned once.
    """
    from mimic_iv_data_pipeline_spark.operators.joins import semi_filter
    from mimic_iv_data_pipeline_spark.plans.features import convert_icd9_to_10

    converted = convert_icd9_to_10(diagnoses, icd_map)
    matching_ids = converted.filter(
        F.col("root_icd10").startswith(icd10_prefix)
    ).select(id_col)
    return semi_filter(cohort, matching_ids, on=id_col)


def cohort_summary(cohort: DataFrame) -> DataFrame:
    """S7/A13: label-prevalence summary
    (``day_intervals_cohort.py:355-361``) as a tiny aggregate."""
    return cohort.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_visits"),
        F.countDistinct("subject_id").alias("n_subjects"),
    )
