from mimic_iv_data_pipeline_spark.sources.readers import (
    read_csv_gz,
    read_glob_csv,
    read_tsv_map,
)
from mimic_iv_data_pipeline_spark.sources.sinks import (
    write_csv_gz,
    write_parquet,
    write_summary_text,
)

__all__ = [
    "read_csv_gz",
    "read_glob_csv",
    "read_tsv_map",
    "write_csv_gz",
    "write_parquet",
    "write_summary_text",
]
