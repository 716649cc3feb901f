"""Config loader/validator parity (reference config_loader.py:36-171)."""

import json

import pytest

from etl_pipeline_from_mongo_json_to_postgre_spark.config import (
    DEFAULT_DATE_FORMATS,
    load_config,
    normalize_table_name,
    validate_app_config,
    validate_mapping_config,
)
from etl_pipeline_from_mongo_json_to_postgre_spark.errors import ConfigError

MAPPING = {
    "customers": {
        "target_table": "public.customers",
        "object_id_attribute": "customer_id",
        "mappings": {
            "customer_id": {"column": "customer_id", "type": "integer"},
            "name": {"column": "name", "type": "text"},
            "signup_date": {"column": "signup_date", "type": "date"},
        },
    }
}


def test_load_yaml_and_json(tmp_path):
    p = tmp_path / "m.json"
    p.write_text(json.dumps(MAPPING))
    assert load_config(str(p)) == MAPPING
    y = tmp_path / "m.yaml"
    y.write_text("a:\n  b: 1\n")
    assert load_config(str(y)) == {"a": {"b": 1}}


def test_load_rejects_bad_extension(tmp_path):
    p = tmp_path / "m.txt"
    p.write_text("{}")
    with pytest.raises(ConfigError):
        load_config(str(p))


def test_validate_mapping_ok():
    out = validate_mapping_config(MAPPING)
    assert out["customers"]["mappings"]["name"]["type"] == "text"
    assert out["customers"]["raw_json_column"] == "raw_json"


def test_validate_mapping_requires_column_and_type():
    bad = {"c": {"target_table": "t", "mappings": {"a": {"type": "text"}}}}
    with pytest.raises(ConfigError, match="column"):
        validate_mapping_config(bad)


def test_validate_mapping_rejects_unknown_type():
    bad = {"c": {"target_table": "t", "mappings": {"a": {"column": "a", "type": "uuid"}}}}
    with pytest.raises(ConfigError, match="unsupported type"):
        validate_mapping_config(bad)


def test_validate_mapping_strict_mode_rejects_duplicate_columns():
    bad = {
        "c": {
            "target_table": "t",
            "mappings": {
                "a": {"column": "x", "type": "text"},
                "b": {"column": "x", "type": "text"},
            },
        }
    }
    # strict is the DEFAULT (reference backend semantics: schema_manager
    # _add_column treats duplicates as hard errors; auto-rename is a
    # UI-only behavior the user opts into)
    with pytest.raises(ConfigError, match="duplicate or reserved target column"):
        validate_mapping_config(bad)
    with pytest.raises(ConfigError, match="duplicate or reserved target column"):
        validate_mapping_config(bad, on_duplicate="error")


def test_validate_mapping_auto_renames_duplicates():
    """Golden parity with the reference rename sequence
    (ui/mapping_editor.py:527-554): colliding targets get a numeric
    suffix starting at 1, case-insensitively, reserved columns count
    as taken."""
    cfg = {
        "c": {
            "target_table": "t",
            "mappings": {
                "a": {"column": "name", "type": "text"},
                "b": {"column": "name", "type": "text"},
                "d": {"column": "NAME", "type": "text"},
                "e": {"column": "status", "type": "text"},  # reserved
                "f": {"column": "name1", "type": "text"},  # taken by b's rename
            },
        }
    }
    out = validate_mapping_config(cfg, on_duplicate="rename")
    cols = [m["column"] for m in out["c"]["mappings"].values()]
    assert cols == ["name", "name1", "NAME2", "status1", "name11"]
    # applied renames are surfaced, not discarded
    assert out["c"]["rename_map"] == {
        "name": "name1", "NAME": "NAME2", "status": "status1",
        "name1": "name11",
    }


def test_resolve_duplicate_columns_sequence():
    from etl_pipeline_from_mongo_json_to_postgre_spark.config.loader import (
        resolve_duplicate_columns,
    )

    cols, renames = resolve_duplicate_columns(
        ["name", "name", "name", "raw_json", "other"]
    )
    assert cols == ["name", "name1", "name2", "raw_json1", "other"]
    assert renames == {"name": "name2", "raw_json": "raw_json1"}


def test_validate_app_config_defaults():
    cfg = validate_app_config({})
    assert len(cfg["runtime"]["date_formats"]) == 10
    assert cfg["runtime"]["type_mappings"]["text"] == "TEXT"


def test_validate_app_config_rejects_empty_formats():
    with pytest.raises(ConfigError):
        validate_app_config({"runtime": {"date_formats": []}})


@pytest.mark.parametrize("fmt", DEFAULT_DATE_FORMATS)
def test_each_default_date_format_is_usable(fmt):
    assert validate_app_config({"runtime": {"date_formats": [fmt]}})[
        "runtime"]["date_formats"] == [fmt]


def test_normalize_table_name():
    assert normalize_table_name("Customers") == "public.customers"
    assert normalize_table_name("Doc_Audit.Ingestion_Audit") == "doc_audit.ingestion_audit"


REFERENCE_APP_CONFIG = """\
database:
  host: localhost
  port: 5432
  name: etl_db
  user: etl_user
  password: ""
  sslmode: disable
  create_if_missing: true
  admin_db: postgres
runtime:
  date_formats: ["%Y-%m-%d", "%m/%d/%Y"]
  date_output_format: "%Y-%m-%d"
  datetime_output_format: "%Y-%m-%dT%H:%M:%S%z"
  type_mappings: {text: TEXT, integer: INTEGER}
audit:
  audit_schema: doc_audit
  audit_table: doc_audit.ingestion_audit
  status_values: {success: success, error: error, missing: missing}
  object_status_values: {new: NEW, missing: MISSING, already_exists: ALREADY_EXISTS}
logging:
  level: INFO
"""


def test_reference_app_config_loads(tmp_path):
    """A reference-shaped app_config.yaml loads whole: keys the engine
    does not read are accepted, the ones it reads take effect."""
    p = tmp_path / "app_config.yaml"
    p.write_text(REFERENCE_APP_CONFIG)
    cfg = validate_app_config(load_config(str(p)))
    assert cfg["runtime"]["date_formats"] == ["%Y-%m-%d", "%m/%d/%Y"]
    assert cfg["runtime"]["type_mappings"] == {"text": "TEXT", "integer": "INTEGER"}
    assert cfg["audit"]["audit_table"] == "doc_audit.ingestion_audit"


@pytest.mark.parametrize("key, values", [
    ("status_values", {"success": "ok"}),
    ("status_values", {"partial": "partial"}),
    ("object_status_values", {"new": "CREATED"}),
    ("object_status_values", ["NEW"]),
])
def test_audit_values_the_engine_does_not_write_raise(key, values):
    """The engine writes fixed status values: a config asking for others
    is an error naming the key, not a report with the old values."""
    with pytest.raises(ConfigError, match=f"audit.{key}"):
        validate_app_config({"audit": {key: values}})


@pytest.mark.parametrize("raw", ["", 5, "status", "Ingested_At"])
def test_validate_mapping_rejects_bad_raw_json_column(raw):
    cfg = {"c": {"target_table": "t", "raw_json_column": raw,
                 "mappings": {"a": {"column": "a", "type": "text"}}}}
    with pytest.raises(ConfigError, match="raw_json_column"):
        validate_mapping_config(cfg)
    with pytest.raises(ConfigError, match="raw_json_column"):
        validate_mapping_config(cfg, on_duplicate="rename")
