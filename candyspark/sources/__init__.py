from candyspark.sources.readers import (
    load_csv,
    load_json_array_files,
    load_table,
)
from candyspark.sources.sinks import save_parquet, save_single_csv

__all__ = [
    "load_csv",
    "load_json_array_files",
    "load_table",
    "save_parquet",
    "save_single_csv",
]
