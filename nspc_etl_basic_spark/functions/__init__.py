from nspc_etl_basic_spark.functions.casting import (
    DATETIME_PATTERNS_PY,
    DATETIME_PATTERNS_SPARK,
    null_normalized,
    parse_datetime_col,
    parse_datetime_py,
)

__all__ = [
    "DATETIME_PATTERNS_PY",
    "DATETIME_PATTERNS_SPARK",
    "null_normalized",
    "parse_datetime_col",
    "parse_datetime_py",
]
