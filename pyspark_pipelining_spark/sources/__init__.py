from pyspark_pipelining_spark.sources.registry import (
    SCHEMAS,
    SchemaError,
    load_table,
    require_columns,
)

__all__ = [
    "SCHEMAS",
    "SchemaError",
    "load_table",
    "require_columns",
]
