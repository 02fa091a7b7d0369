"""Entry point 2: per-modality feature extraction → summary → selection
→ cleaning (SURVEY.md §3.2).

The reference runs each modality through chunked pandas scans with
csv.gz read-back between every stage
(``feature_selection_icu.py:32-62``, ``feature_selection_hosp.py:29-57``).
Here each modality is one lazy pipeline; stages compose without
materialization (caller persists Parquet at the stage boundaries it
actually wants).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.functions.scalars import (
    icd_root,
    ndc_normalize,
    normalize_drug_name,
    try_double,
)
from mimic_iv_data_pipeline_spark.operators.aggregates import (
    clamp_outliers,
    filter_majority_unit,
)
from mimic_iv_data_pipeline_spark.operators.joins import asof_join, map_codes, semi_filter
from mimic_iv_data_pipeline_spark.operators.temporal import normalize_event_time


def convert_icd9_to_10(diagnoses: DataFrame, icd_map: DataFrame) -> DataFrame:
    """The ONE ICD-9→ICD-10 conversion (J9): version-9 codes map via
    their 3-char root through the broadcast icd9cm_root→icd10cm table;
    version-10 codes pass through as ``root_icd10``. Shared by
    ``preproc_diagnoses`` and ``cohort.filter_by_diagnosis`` so the
    conversion rule can never fork between the feature and cohort
    paths (reference: ``hosp_preprocess_util.py:402-426``)."""
    from mimic_iv_data_pipeline_spark.operators.joins import map_codes

    return map_codes(
        diagnoses.withColumn("root_icd10", F.col("icd_code")),
        icd_map,
        code_col="root_icd10",
        map_key="icd9cm_root",
        map_value="icd10cm",
        out_col="root_icd10",
        key_expr=F.when(F.col("icd_version") == 9, icd_root(F.col("icd_code"))),
    )


def preproc_diagnoses(
    diagnoses: DataFrame,
    cohort_ids: DataFrame,
    icd_map: DataFrame,
    id_col: str = "hadm_id",
    grouping: str = "convert",
) -> DataFrame:
    """``preproc_icd_module`` (``icu_preprocess_util.py:233-290``) +
    grouping choice (``feature_selection_hosp.py:61-123``):

    * ``keep``    — raw codes untouched
    * ``convert`` — ICD-9 rows mapped to ICD-10 via the broadcast map on
      the 3-char root (J9; unmapped keep their code)
    * ``group``   — after convert, reduce every code to its 3-char root

    The reference's ``icd_9to10`` is an O(codes×map) python scan loop
    (``hosp_preprocess_util.py:402-426``); here it is one broadcast
    hash join.
    """
    out = semi_filter(diagnoses, cohort_ids.select(id_col), on=id_col)
    if grouping == "keep":
        return out
    converted = convert_icd9_to_10(out, icd_map)
    if grouping == "convert":
        return converted
    if grouping == "group":
        return converted.withColumn("root_icd10", icd_root(F.col("root_icd10")))
    raise ValueError(f"unknown grouping: {grouping}")


def prepare_icd_map(icd_map_raw: DataFrame) -> DataFrame:
    """Dedupe the ICD9→ICD10 TSV to first-match per 3-char ICD-9 root
    (W5 semantics — the reference takes ``.iloc[0]`` of the scan hit,
    ``hosp_preprocess_util.py:411``)."""
    return (
        icd_map_raw.withColumn("icd9cm_root", icd_root(F.col("icd9cm")))
        .select("icd9cm_root", "icd10cm")
    )


def preproc_events(
    events: DataFrame,
    cohort: DataFrame,
    id_col: str,
    event_ts: str,
    anchor_ts: str,
    los_hours_col: str = "los_hours",
) -> DataFrame:
    """``preproc_out``/``preproc_chart``/``preproc_labs`` shape
    (``icu_preprocess_util.py:157-231``): semi-filter to the cohort,
    attach the visit anchor, normalize event time to hours since
    admission, apply the sanity filters (0 ≤ t ≤ los).

    The reference streams 10M-row chunks through this
    (``hosp_preprocess_util.py:296-327``); a partitioned scan makes the
    chunking disappear.
    """
    anchors = cohort.select(id_col, anchor_ts, los_hours_col)
    joined = events.join(anchors, on=id_col, how="inner")
    return normalize_event_time(
        joined,
        event_ts=event_ts,
        anchor_ts=anchor_ts,
        out_col="event_time_from_admit",
        max_hours_col=los_hours_col,
    ).drop(anchor_ts)


def preproc_meds(
    prescriptions: DataFrame,
    cohort_ids: DataFrame,
    ndc_map: DataFrame | None = None,
    id_col: str = "hadm_id",
) -> DataFrame:
    """Hosp meds preprocessing (``hosp_preprocess_util.py:192-273``):
    cohort filter, drug-name normalization (F4), lenient dose parse
    (F9), NDC 11-digit normalization + broadcast join to generic names
    (F6/D2/J3)."""
    out = semi_filter(prescriptions, cohort_ids.select(id_col), on=id_col)
    out = out.withColumn("drug_norm", normalize_drug_name(F.col("drug")))
    out = out.withColumn("dose_val", try_double(F.col("dose_val_rx")))
    out = out.withColumn("ndc11", ndc_normalize(F.col("ndc")))
    if ndc_map is not None:
        # Product NDC (labeler+product, 9 digits after padding) matches
        # the first 9 digits of the 11-digit package NDC — the
        # brand_to_generic join key (hosp_preprocess_util.py:238-258).
        generic = ndc_map.select(
            ndc_normalize(F.col("productndc")).alias("ndc9"),
            F.lower(F.col("nonproprietaryname")).alias("generic_name"),
        ).dropDuplicates(["ndc9"])
        out = out.withColumn("ndc9", F.substring(F.col("ndc11"), 1, 9))
        out = out.join(F.broadcast(generic), on="ndc9", how="left")
        out = out.withColumn(
            "generic_name", F.coalesce(F.col("generic_name"), F.col("drug_norm"))
        )
    return out


def impute_hadm_ids(
    labs: DataFrame,
    admissions: DataFrame,
) -> DataFrame:
    """D3/J7: fill missing ``hadm_id`` on lab rows by locating the
    admission of the same subject whose ``[admittime, dischtime]``
    contains ``charttime``; ties → smallest ``charttime − admittime``.

    Replaces the reference's per-row ``hadm_imputer`` under
    ``multiprocessing.Pool(8)`` with uuid-csv shards
    (``labs_preprocess_util.py:13-60,83-126``) with ONE as-of join.
    Rows that already have an hadm_id pass through untouched; unmatched
    rows keep null (the reference drops them later).

    It matches the reference exactly: it ``.normalize()``-s all three
    timestamps to midnight before comparing
    (``labs_preprocess_util.py:40-57``), i.e. DAY-level containment —
    a lab charted on the admission day but before the admit timestamp
    still imputes, and the tie-break is the smallest chart-date −
    admit-date (equal admit-date ties → max hadm_id, a deterministic
    stand-in for the reference's dict-order stable sort).
    """
    missing = (
        labs.filter(F.col("hadm_id").isNull())
        .drop("hadm_id")
        .withColumn("__chart_t", F.to_date("charttime").cast("timestamp"))
    )
    have = labs.filter(F.col("hadm_id").isNotNull())
    adm = admissions.select(
        "subject_id",
        "hadm_id",
        F.to_date("admittime").cast("timestamp").alias("__adm_t"),
        F.to_date("dischtime").cast("timestamp").alias("__dis_t"),
    )
    imputed = asof_join(
        missing,
        adm,
        on="subject_id",
        left_time="__chart_t",
        right_start="__adm_t",
        right_end="__dis_t",
        tie_break=[F.col("hadm_id").desc()],
    )
    return have.unionByName(imputed.select(*have.columns))


def generate_summary(
    events: DataFrame,
    visit_col: str,
    code_col: str,
    value_col: str | None = None,
) -> DataFrame:
    """A1-A3: per-code summary — mean per-visit frequency, total count,
    and (when a value column exists) missing share
    (``feature_selection_hosp.py:125-186``). One pass + one two-level
    aggregate; the reference re-reads csv.gz per modality.

    "Missing" is ``value == 0`` ONLY — the reference's pandas filter
    (``labs['valuenum']==0``, ``feature_selection_hosp.py:177``)
    evaluates NaN == 0 as False, so null values do NOT count as missing.
    Rounded outputs use ``dround`` (the repo's engine-consistent binary
    rounding, commit b2309dd convention) so a DuckDB twin matches.

    Optimization r11 (guide §2.4): the per-code totals are EXACT sums
    of the per-(code, visit) partials — ``total_count = Σ
    per_visit_cnt`` and the zero-value count sums the same way — so the
    whole summary is ONE two-level aggregate chain over events instead
    of two scans joined back together (integer sums are associative ⇒
    identical longs, and both dround-ed doubles divide the same longs;
    pinned by tests/test_clean_fused.py::test_summary_single_pass)."""
    from mimic_iv_data_pipeline_spark.functions.rounding import dround_sql

    pv_aggs = [F.count(F.lit(1)).alias("per_visit_cnt")]
    if value_col is not None:
        pv_aggs.append(
            F.expr(
                f"sum(CASE WHEN `{value_col}` = 0 THEN 1 ELSE 0 END)"
            ).alias("__zero_cnt")
        )
    per_visit = events.groupBy(code_col, visit_col).agg(*pv_aggs)
    out_aggs = [F.sum("per_visit_cnt").alias("total_count")]
    if value_col is not None:
        out_aggs.append(
            F.expr(
                dround_sql("sum(__zero_cnt) * 100.0D / sum(per_visit_cnt)", 6)
            ).alias("missing_pct")
        )
    out_aggs.append(
        F.expr(dround_sql("avg(per_visit_cnt)", 6)).alias("mean_frequency")
    )
    return per_visit.groupBy(code_col).agg(*out_aggs)


def features_selection(
    events: DataFrame, allow_list: DataFrame, code_col: str
) -> DataFrame:
    """P6: allow-list semi-join against the user-curated feature file
    (``feature_selection_hosp.py:188-236``)."""
    return semi_filter(events, allow_list.select(code_col), on=code_col)


def clean_events(
    events: DataFrame,
    code_col: str = "itemid",
    value_col: str = "valuenum",
    uom_col: str | None = "valueuom",
    uom_cutoff: float = 0.95,
    outlier_pcts: tuple[float, float] | None = (0.02, 0.98),
    outlier_mode: str = "clamp",
) -> DataFrame:
    """Cleaning stage: UoM majority filter (A7,
    ``uom_conversion.py:11-28``) then per-itemid percentile outlier
    handling (A8, ``outlier_removal.py:11-37``).

    When BOTH stages are active they run as the fused
    :func:`~mimic_iv_data_pipeline_spark.operators.aggregates.majority_unit_clamp`:
    one GROUPING SETS aggregate + one probe instead
    of three scans of the (join-derived) event relation — bit-identical
    values (tests/test_clean_fused.py pins fused == sequential)."""
    out = events
    if uom_col is not None and outlier_pcts is not None:
        from mimic_iv_data_pipeline_spark.operators.aggregates import (
            majority_unit_clamp,
        )

        lo, hi = outlier_pcts
        return majority_unit_clamp(
            out,
            code_col,
            uom_col,
            value_col,
            cutoff=uom_cutoff,
            lower_pct=lo,
            upper_pct=hi,
            mode=outlier_mode,
        )
    if uom_col is not None:
        out = filter_majority_unit(out, code_col, uom_col, cutoff=uom_cutoff)
    if outlier_pcts is not None:
        lo, hi = outlier_pcts
        out = clamp_outliers(out, code_col, value_col, lo, hi, mode=outlier_mode)
    return out
