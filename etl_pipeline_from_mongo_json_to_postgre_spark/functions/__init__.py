from .casts import (
    DEFAULT_TYPE_MAPPINGS,
    FALSY,
    SUPPORTED_TYPES,
    TRUTHY,
    build_cast,
    cast_error,
    cast_integer,
    multi_format_date,
    multi_format_timestamp,
    normalize_boolean,
    normalize_type,
)
from .datetime_fmt import has_time_component, strptime_to_java, translate_formats

__all__ = [
    "DEFAULT_TYPE_MAPPINGS",
    "FALSY",
    "SUPPORTED_TYPES",
    "TRUTHY",
    "build_cast",
    "cast_error",
    "cast_integer",
    "multi_format_date",
    "multi_format_timestamp",
    "normalize_boolean",
    "normalize_type",
    "has_time_component",
    "strptime_to_java",
    "translate_formats",
]
