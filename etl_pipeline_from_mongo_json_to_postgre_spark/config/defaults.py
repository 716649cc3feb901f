"""Default runtime configuration (parity with reference config/app_config.yaml).

The reference drives its transform engine from ``runtime.date_formats``,
``runtime.type_mappings`` and the audit column tables
(reference: config/app_config.yaml:12-42, :44-76). We keep the same
logical surface so a reference mapping_config.yaml works unchanged.
"""

from __future__ import annotations

# reference: config/app_config.yaml:12-22
DEFAULT_DATE_FORMATS: list[str] = [
    "%Y-%m-%d",
    "%m/%d/%Y",
    "%d-%m-%Y",
    "%Y/%m/%d",
    "%Y.%m.%d",
    "%Y-%m-%dT%H:%M:%S",
    "%Y-%m-%dT%H:%M:%S%z",
    "%Y-%m-%dT%H:%M:%S.%fZ",
    "%d-%m-%Y %H:%M:%S",
    "%m/%d/%Y %I:%M %p",
]

DEFAULT_DATE_OUTPUT_FORMAT = "%Y-%m-%d"
DEFAULT_DATETIME_OUTPUT_FORMAT = "%Y-%m-%dT%H:%M:%S%z"

# Logical type -> SQL DDL type (reference: config/app_config.yaml:26-42,
# etl_pipeline/type_utils.py:9-26). Keys are normalize_type()-ed.
DEFAULT_TYPE_MAPPINGS: dict[str, str] = {
    "text": "TEXT",
    "string": "TEXT",
    "varchar": "TEXT",
    "integer": "INTEGER",
    "int": "INTEGER",
    "bigint": "BIGINT",
    "smallint": "SMALLINT",
    "float": "DOUBLE PRECISION",
    "double": "DOUBLE PRECISION",
    "double precision": "DOUBLE PRECISION",
    "numeric": "NUMERIC",
    "decimal": "NUMERIC",
    "boolean": "BOOLEAN",
    "bool": "BOOLEAN",
    "date": "DATE",
    "datetime": "TIMESTAMPTZ",
}

SUPPORTED_TYPES = frozenset(DEFAULT_TYPE_MAPPINGS)

# reference: config/app_config.yaml:44-49 and sql/schema.sql:6-9
BUSINESS_COLUMNS = ("ingested_at", "source_collection", "status")
RAW_JSON_COLUMN_DEFAULT = "raw_json"

# Columns the engine stamps onto every target table; user mappings may
# not claim them (reference ui/mapping_editor.py:505-554).
RESERVED_COLUMNS = ("raw_json", "ingested_at", "source_collection", "status")

# reference: config/app_config.yaml:56-76 and sql/schema.sql:25-33
AUDIT_SCHEMA = "doc_audit"
AUDIT_TABLE = "doc_audit.ingestion_audit"
AUDIT_COLUMNS = (
    "ingested_at",
    "object_id",
    "source_collection",
    "object_name",
    "object_status",
    "missing_columns",
    "processing_status",
)

# reference: config/app_config.yaml:70-76
STATUS_SUCCESS = "success"
STATUS_ERROR = "error"
STATUS_MISSING = "missing"
OBJECT_STATUS_NEW = "NEW"
OBJECT_STATUS_MISSING = "MISSING"
OBJECT_STATUS_ALREADY_EXISTS = "ALREADY_EXISTS"


def default_app_config() -> dict:
    """A full app-config dict with reference-compatible shape."""
    return {
        "database": {
            "host": "localhost",
            "port": 5432,
            "name": "etl_db",
            "user": "etl_user",
            "password": "",
            "sslmode": "disable",
            "create_if_missing": True,
            "admin_db": "postgres",
        },
        "runtime": {
            "date_formats": list(DEFAULT_DATE_FORMATS),
            "date_output_format": DEFAULT_DATE_OUTPUT_FORMAT,
            "datetime_output_format": DEFAULT_DATETIME_OUTPUT_FORMAT,
            "schema_path": "sql/schema.sql",
            "type_mappings": dict(DEFAULT_TYPE_MAPPINGS),
        },
        "audit": {
            "audit_schema": AUDIT_SCHEMA,
            "audit_table": AUDIT_TABLE,
            "status_values": {
                "success": STATUS_SUCCESS,
                "error": STATUS_ERROR,
                "missing": STATUS_MISSING,
            },
            "object_status_values": {
                "new": OBJECT_STATUS_NEW,
                "missing": OBJECT_STATUS_MISSING,
                "already_exists": OBJECT_STATUS_ALREADY_EXISTS,
            },
        },
        "logging": {"level": "INFO"},
    }
