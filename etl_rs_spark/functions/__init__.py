from etl_rs_spark.functions.coercion import (
    bool_flex,
    date_flex,
    datetime_flex,
    float_flex,
    int_flex,
    timestamp_flex,
)

__all__ = [
    "bool_flex",
    "int_flex",
    "float_flex",
    "date_flex",
    "datetime_flex",
    "timestamp_flex",
]
