from .json_source import (
    collections_to_raw_df,
    load_input_json,
    validate_input_shape,
)
from .parquet import TABLES, load_table, load_tables, register_views

__all__ = [
    "TABLES",
    "collections_to_raw_df",
    "load_input_json",
    "load_table",
    "load_tables",
    "register_views",
    "validate_input_shape",
]
