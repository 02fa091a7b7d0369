"""Seeded input generators for the benchmark.

Every generated value is a pure function of (seed, row key): each
``xxhash64`` call mixes in the seed, so the same seed gives the same
tables on any core count. Inputs are written to parquet during set-up,
so no timed iteration pays for generating them.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

# Day 0 of the synthetic MIMIC calendar (shifted years, as in MIMIC-IV).
_BASE = "unix_timestamp(to_timestamp('2150-01-01 00:00:00'))"
# The 30-word corpus vocabulary of the star-schema testdata (TESTDATA.md).
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


@dataclass(frozen=True)
class MimicShape:
    """Size of the synthetic MIMIC-shaped tables."""

    n_stays: int
    events_per_stay: int
    n_codes: int


def _h(seed: int, *keys: str) -> str:
    """SQL for a seeded 64-bit hash of ``keys``."""
    return f"xxhash64({', '.join(keys)}, {seed}L)"


def mimic_tables(spark, seed: int, shape: MimicShape) -> dict:
    """Lazy MIMIC-shaped ``visits``/``patients``/``admissions``/``events``.

    ICU stays last 1-12 days; chart events fall from 2 h before
    admission to 2 h after discharge; 2% of values are 9999 outliers
    (for the percentile clamp) and 1 in 30 units is spelt ``BPM`` (for
    the majority-unit filter); 5% of stays die in hospital.
    """
    n, per, codes = shape.n_stays, shape.events_per_stay, shape.n_codes
    n_subjects = max(1, n // 2)
    admit = f"timestamp_seconds({_BASE} + pmod({_h(seed, 'stay_id', '1')}, {300 * 86400}))"
    los_h = f"CAST(pmod({_h(seed, 'stay_id', '2')}, 264) + 24 AS INT)"
    icustays = spark.range(n).selectExpr(
        "id AS stay_id", f"pmod({_h(seed, 'id', '0')}, {n_subjects}) AS subject_id"
    ).selectExpr(
        "subject_id",
        "stay_id AS hadm_id",
        "stay_id",
        f"{admit} AS intime",
        f"timestamp_seconds(unix_timestamp({admit}) + CAST({los_h} AS BIGINT) * 3600)"
        " AS outtime",
        f"{los_h} / 24.0D AS los",
    )
    admissions = icustays.selectExpr(
        "subject_id",
        "hadm_id",
        "intime AS admittime",
        "outtime AS dischtime",
        "CAST(NULL AS TIMESTAMP) AS deathtime",
        f"CAST(pmod({_h(seed, 'hadm_id', '3')}, 20) = 0 AS INT) AS hospital_expire_flag",
        "'Private' AS insurance",
        "'OTHER' AS ethnicity",
    )
    patients = icustays.select("subject_id").distinct().selectExpr(
        "subject_id",
        f"CASE WHEN pmod({_h(seed, 'subject_id', '4')}, 2) = 0 THEN 'M' ELSE 'F' END"
        " AS gender",
        # ~15% minors, removed by the cohort's age filter
        f"CAST(pmod({_h(seed, 'subject_id', '5')}, 85) + 5 AS INT) AS anchor_age",
        "CAST(2150 AS INT) AS anchor_year",
        "'2008 - 2010' AS anchor_year_group",
        "CAST(NULL AS TIMESTAMP) AS dod",
    )
    events = (
        spark.range(n * per)
        .selectExpr(f"CAST(id DIV {per} AS BIGINT) AS stay_id", "id AS eid")
        .join(icustays.select("stay_id", "intime", "los"), "stay_id")
        .selectExpr(
            "stay_id",
            "timestamp_seconds(unix_timestamp(intime)"
            f" + pmod({_h(seed, 'eid', '6')}, CAST(los * 86400 + 14400 AS BIGINT))"
            " - 7200) AS charttime",
            f"pmod({_h(seed, 'eid', '7')}, {codes}) + 220045 AS itemid",
            f"CASE WHEN pmod({_h(seed, 'eid', '8')}, 50) = 0 THEN 9999.0D"
            f" ELSE 70.0D + pmod({_h(seed, 'eid', '9')}, 2000) / 100.0D END AS valuenum",
            f"CASE WHEN pmod({_h(seed, 'eid', '10')}, 30) = 0 THEN 'BPM' ELSE 'bpm' END"
            " AS valueuom",
        )
    )
    return {
        "visits": icustays,
        "patients": patients,
        "admissions": admissions,
        "events": events,
    }


def operator_tables(spark, seed: int, scale: float) -> dict:
    """Lazy tables shaped like the star-schema testdata (TESTDATA.md) at
    scale factor ``scale`` (sf0.1 = 15,000 customers, 5,000 documents,
    2,000 embeddings, 100,000 events, 600,000 line items): the columns,
    types and value domains the operators-mix queries read.
    """
    n_cust = int(150_000 * scale)
    n_docs = int(50_000 * scale)
    n_emb = int(20_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_li = int(6_000_000 * scale)
    n_users = max(10, int(15_000 * scale))
    words = "array(" + ", ".join(f"'{w}'" for w in _WORDS) + ")"
    langs = "array(" + ", ".join(f"'{w}'" for w in _LANGS) + ")"

    customer = spark.range(n_cust).selectExpr(
        "id AS c_custkey",
        "format_string('Customer#%09d', id) AS c_name",
        f"CAST(pmod({_h(seed, 'id', '20')}, 25) AS INT) AS c_nationkey",
        f"CAST(pmod({_h(seed, 'id', '21')}, 1100000) - 100000 AS DOUBLE) / 100.0D AS c_acctbal",
        f"element_at(array('AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'),"
        f" CAST(pmod({_h(seed, 'id', '22')}, 5) AS INT) + 1) AS c_mktsegment",
    )
    # Base texts of 10-100 words; 5% of documents copy an earlier one
    # and append " dup", so the near-duplicate clusters are not empty.
    base_text = (
        "concat_ws(' ', transform(sequence(1, CAST(pmod(" + _h(seed, "b", "30")
        + ", 91) AS INT) + 10), i -> element_at(" + words + ", CAST(pmod("
        + _h(seed, "b", "i", "31") + ", 30) AS INT) + 1)))"
    )
    documents = (
        spark.range(n_docs)
        .selectExpr(
            "id AS doc_id",
            f"CASE WHEN id > 10 AND pmod({_h(seed, 'id', '32')}, 20) = 0"
            f" THEN pmod({_h(seed, 'id', '33')}, id) ELSE id END AS b",
        )
        .selectExpr(
            "doc_id",
            f"CASE WHEN b = doc_id THEN {base_text} ELSE concat({base_text}, ' dup') END AS text",
            f"element_at({langs}, CAST(pmod({_h(seed, 'doc_id', '34')}, 7) AS INT) + 1) AS lang",
            "concat('src', CAST(pmod(doc_id, 20) AS STRING)) AS source",
        )
        .selectExpr("*", "CAST(length(text) AS BIGINT) AS n_chars")
    )
    # Unit vectors around 10 seeded cluster centres.
    raw = (
        "transform(sequence(0, 63), j -> (pmod(" + _h(seed, "label", "j", "40")
        + ", 2001) - 1000) / 1000.0D + (pmod(" + _h(seed, "id", "j", "41")
        + ", 2001) - 1000) / 2500.0D)"
    )
    embeddings = (
        spark.range(n_emb)
        .selectExpr("id", f"CAST(pmod({_h(seed, 'id', '42')}, 10) AS INT) AS label")
        .selectExpr("id", "label", f"{raw} AS v")
        .selectExpr(
            "id AS vec_id",
            "transform(v, x -> CAST(x / sqrt(aggregate(v, 0.0D, (a, y) -> a + y * y)) AS FLOAT))"
            " AS embedding",
            "label",
        )
    )
    events = spark.range(n_ev).selectExpr(
        "id AS event_id",
        "timestamp_micros(1704067200000000L + pmod("
        + _h(seed, "id", "50") + ", 2592000000000L)) AS ts",
        f"pmod({_h(seed, 'id', '51')}, {n_users}) AS user_id",
        "element_at(array('signup', 'view', 'click', 'purchase', 'error'),"
        f" CAST(pmod({_h(seed, 'id', '52')}, 5) AS INT) + 1) AS event_type",
        f"CAST(pmod({_h(seed, 'id', '53')}, 56022) AS DOUBLE) / 100.0D AS value",
        f"format_string('{{\"k\": %d}}', pmod({_h(seed, 'id', '54')}, 100)) AS props",
    )
    lineitem = spark.range(n_li).selectExpr(
        f"pmod({_h(seed, 'id', '60')}, {max(1, n_li // 4)}) AS l_orderkey",
        f"pmod({_h(seed, 'id', '61')}, 20000) AS l_partkey",
        f"pmod({_h(seed, 'id', '62')}, 1000) AS l_suppkey",
        f"CAST(pmod({_h(seed, 'id', '63')}, 7) + 1 AS INT) AS l_linenumber",
        f"CAST(pmod({_h(seed, 'id', '64')}, 50) + 1 AS DOUBLE) AS l_quantity",
        f"CAST(pmod({_h(seed, 'id', '65')}, 10000000) AS DOUBLE) / 100.0D AS l_extendedprice",
        f"CAST(pmod({_h(seed, 'id', '66')}, 11) AS DOUBLE) / 100.0D AS l_discount",
        f"CAST(pmod({_h(seed, 'id', '67')}, 9) AS DOUBLE) / 100.0D AS l_tax",
        f"element_at(array('A', 'N', 'R'), CAST(pmod({_h(seed, 'id', '68')}, 3) AS INT) + 1)"
        " AS l_returnflag",
        f"element_at(array('O', 'F'), CAST(pmod({_h(seed, 'id', '69')}, 2) AS INT) + 1)"
        " AS l_linestatus",
        "timestamp_seconds(694224000L + pmod(" + _h(seed, "id", "70")
        + ", 2500) * 86400) AS l_shipdate",
    )
    return {
        "customer": customer,
        "documents": documents,
        "embeddings": embeddings,
        "events": events,
        "lineitem": lineitem,
    }


def stage(tables: dict, out_dir: str) -> dict[str, int]:
    """Write each table to ``<out_dir>/<name>.parquet``; returns row counts."""
    counts = {}
    for name, df in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        df.write.mode("overwrite").parquet(path)
        counts[name] = df.sparkSession.read.parquet(path).count()
    return counts
