from automated_etl_pipeline_spark.io.sources import (
    load_testdata,
    read_csv,
    register_views,
)
from automated_etl_pipeline_spark.io.sinks import (
    validate_not_null,
    write_csv,
    write_parquet_append,
)

__all__ = [
    "load_testdata",
    "read_csv",
    "register_views",
    "validate_not_null",
    "write_csv",
    "write_parquet_append",
]
