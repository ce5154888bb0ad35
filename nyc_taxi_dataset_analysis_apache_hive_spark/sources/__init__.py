from .readers import load_table, read_trips_csv, read_trips_parquet
from .writers import write_clean_partitioned, write_clean_table

__all__ = [
    "load_table",
    "read_trips_csv",
    "read_trips_parquet",
    "write_clean_partitioned",
    "write_clean_table",
]
