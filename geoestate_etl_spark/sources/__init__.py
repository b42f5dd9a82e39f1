from geoestate_etl_spark.sources.csv_source import read_dirty_csv
from geoestate_etl_spark.sources.jdbc_sink import (
    jdbc_driver_available,
    read_jdbc_table,
    write_jdbc_table,
    write_serving_table,
)
from geoestate_etl_spark.sources.parquet_io import (
    load_tables,
    read_parquet,
    write_sorted_table,
)

__all__ = [
    "read_dirty_csv",
    "read_parquet",
    "write_sorted_table",
    "load_tables",
    "jdbc_driver_available",
    "read_jdbc_table",
    "write_jdbc_table",
    "write_serving_table",
]
