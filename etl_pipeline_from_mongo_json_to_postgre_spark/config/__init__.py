from .defaults import (
    AUDIT_SCHEMA,
    AUDIT_TABLE,
    BUSINESS_COLUMNS,
    DEFAULT_DATE_FORMATS,
    RAW_JSON,
    default_app_config,
    reserved_columns,
)
from .loader import (
    load_config,
    normalize_table_name,
    normalize_type,
    resolve_duplicate_columns,
    validate_app_config,
    validate_mapping_config,
)

__all__ = [
    "AUDIT_SCHEMA",
    "AUDIT_TABLE",
    "BUSINESS_COLUMNS",
    "DEFAULT_DATE_FORMATS",
    "RAW_JSON",
    "default_app_config",
    "load_config",
    "normalize_table_name",
    "normalize_type",
    "reserved_columns",
    "resolve_duplicate_columns",
    "validate_app_config",
    "validate_mapping_config",
]
