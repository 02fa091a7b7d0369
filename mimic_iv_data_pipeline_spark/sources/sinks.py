"""Sinks (SURVEY.md §2.1 S4-S7).

The reference sinks intermediate stages as csv.gz files and per-visit
pickles/CSV directories (``data_generation_icu.py:461-463,680-729``).
Internally we standardize on Parquet (columnar, splittable, schema'd);
csv.gz remains available for compatibility.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(df: DataFrame, path: str) -> None:
    """S4-S6 replacement: snappy Parquet, replacing whatever is at
    ``path`` — every pipeline stage file goes through here."""
    df.write.mode("overwrite").parquet(path)


def write_csv_gz(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S4 compat sink (reference writes csv.gz between every stage)."""
    df.write.mode(mode).option("header", "true").option("codec", "gzip").csv(path)


def write_summary_text(lines: list[str], path: str) -> None:
    """S7: tiny driver-side text summary (cohort summary txt,
    ``day_intervals_cohort.py:355-365``). Inputs are already-aggregated
    scalars collected from a tiny DataFrame — driver write is correct here.
    """
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
