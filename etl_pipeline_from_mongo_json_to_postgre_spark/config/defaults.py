"""Default runtime configuration (parity with reference config/app_config.yaml).

The reference drives its transform engine from ``runtime.date_formats``,
``runtime.type_mappings`` and the audit column tables
(reference: config/app_config.yaml:12-42, :44-76). We keep the same
logical surface so a reference mapping_config.yaml works unchanged.
The date formats and logical types are the transform functions' own.
"""

from __future__ import annotations

from ..functions.casts import DEFAULT_TYPE_MAPPINGS
from ..functions.datetime_fmt import DEFAULT_DATE_FORMATS

# reference: config/app_config.yaml:44-49 and sql/schema.sql:6-9
BUSINESS_COLUMNS = ("ingested_at", "source_collection", "status")

# The column every source emits each document's text in, and the
# default name of the raw-JSON column of a target table.
RAW_JSON = "raw_json"


def reserved_columns(raw_json_column: str = RAW_JSON) -> tuple[str, ...]:
    """The target names a collection's mappings may not claim: its
    raw-JSON column and the business columns the engine stamps onto
    every row (reference ui/mapping_editor.py:505-554)."""
    return (raw_json_column, *BUSINESS_COLUMNS)


# reference: config/app_config.yaml:56-76 and sql/schema.sql:25-33
AUDIT_SCHEMA = "doc_audit"
AUDIT_TABLE = "doc_audit.ingestion_audit"

# reference: config/app_config.yaml:70-76
STATUS_SUCCESS = "success"
STATUS_ERROR = "error"
STATUS_MISSING = "missing"
OBJECT_STATUS_NEW = "NEW"
OBJECT_STATUS_MISSING = "MISSING"
OBJECT_STATUS_ALREADY_EXISTS = "ALREADY_EXISTS"

# The values the engine writes, under the reference's audit keys. A
# config may restate them; it cannot change them.
AUDIT_VALUES = {
    "status_values": {"success": STATUS_SUCCESS, "error": STATUS_ERROR,
                      "missing": STATUS_MISSING},
    "object_status_values": {"new": OBJECT_STATUS_NEW, "missing": OBJECT_STATUS_MISSING,
                             "already_exists": OBJECT_STATUS_ALREADY_EXISTS},
}


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
        },
        "runtime": {
            "date_formats": list(DEFAULT_DATE_FORMATS),
            "schema_path": "sql/schema.sql",
            "type_mappings": dict(DEFAULT_TYPE_MAPPINGS),
        },
        "audit": {
            "audit_schema": AUDIT_SCHEMA,
            "audit_table": AUDIT_TABLE,
        },
    }
