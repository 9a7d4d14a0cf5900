"""Scalar-function layer shared across the engine (SURVEY.md §2.7)."""

from duckdb_data_eng_proj_spark.functions.clock import (  # noqa: F401
    berlin_now_second,
    processed_at,
)
from duckdb_data_eng_proj_spark.functions.scalars import (  # noqa: F401
    month_boundary_diff,
    null_or_blank,
    round_duckdb,
    try_int_duckdb,
)
