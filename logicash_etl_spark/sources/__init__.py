"""Sources & sinks: schema-validated readers, idempotent writers."""

from logicash_etl_spark.sources.readers import (
    read_csv_dir,
    read_parquet,
    read_table,
)
from logicash_etl_spark.sources.writers import (
    write_parquet_partitioned,
    write_parquet,
)

__all__ = [
    "read_csv_dir",
    "read_parquet",
    "read_table",
    "write_parquet_partitioned",
    "write_parquet",
]
