"""Config loading + validation (parity with reference etl_pipeline/config_loader.py).

Pure driver-side metadata handling: YAML/JSON dispatch by extension
(reference config_loader.py:13-33), app-config validation (:36-123),
mapping-config validation (:126-152) and type-closure validation
(:155-171). Raises ConfigError with actionable messages, same taxonomy
as the reference (errors.py:1-10).
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone
from typing import Any

from ..errors import ConfigError, LoadError
from ..functions.casts import SUPPORTED_TYPES, normalize_type
from ..functions.datetime_fmt import strptime_to_java
from ..sinks import jdbc
from .defaults import (
    AUDIT_VALUES,
    BUSINESS_COLUMNS,
    RAW_JSON,
    default_app_config,
    reserved_columns,
)

try:
    import yaml  # PyYAML ships with pyspark images; gate anyway
except ImportError:  # pragma: no cover
    yaml = None


def load_config(path: str) -> dict:
    """Load a YAML or JSON config file, dispatched on extension.

    Parity: reference config_loader.py:13-33.
    """
    if not os.path.exists(path):
        raise ConfigError(f"config file not found: {path}")
    ext = os.path.splitext(path)[1].lower()
    with open(path, "r", encoding="utf-8") as fh:
        if ext in (".yaml", ".yml"):
            if yaml is None:
                raise ConfigError("PyYAML not available for YAML config")
            data = yaml.safe_load(fh)
        elif ext == ".json":
            data = json.load(fh)
        else:
            raise ConfigError(f"unsupported config extension: {ext}")
    if not isinstance(data, dict):
        raise ConfigError(f"config root must be a mapping: {path}")
    return data


def _require(d: dict, key: str, ctx: str) -> Any:
    if key not in d:
        raise ConfigError(f"missing required key '{key}' in {ctx}")
    return d[key]


def validate_app_config(config: dict) -> dict:
    """Validate app config; fill defaults for missing runtime knobs.

    Parity: reference config_loader.py:36-123 (required sections,
    usable date formats, type-mapping closure). Unread keys
    (``logging``, output formats, admin database) are ignored; audit
    status values other than the ones the engine writes are an error.
    """
    if not isinstance(config, dict):
        raise ConfigError("app config must be a mapping")
    merged = default_app_config()
    for section in merged:
        sec = config.get(section)
        if sec is not None:
            if not isinstance(sec, dict):
                raise ConfigError(f"app config section '{section}' must be a mapping")
            merged[section].update(sec)
    runtime = merged["runtime"]
    formats = _require(runtime, "date_formats", "runtime")
    if not isinstance(formats, list) or not formats:
        raise ConfigError("runtime.date_formats must be a non-empty list")
    for fmt in formats:
        _check_date_format(fmt)
    tm = _require(runtime, "type_mappings", "runtime")
    if not isinstance(tm, dict) or not tm:
        raise ConfigError("runtime.type_mappings must be a non-empty mapping")
    runtime["type_mappings"] = {normalize_type(k): v for k, v in tm.items()}
    audit = merged["audit"]
    for key in ("audit_schema", "audit_table"):
        _nonempty_name(audit[key], f"audit.{key}")
    _table_name(audit["audit_table"], "audit.audit_table")
    for key, engine in AUDIT_VALUES.items():
        given = audit.get(key, engine)
        if not isinstance(given, dict) or any(engine.get(k) != v for k, v in given.items()):
            raise ConfigError(
                f"audit.{key} must restate the values the engine writes, "
                f"{engine}; got {given!r}")
    return merged


_PROBE_INSTANT = datetime(2024, 1, 15, 13, 4, 5, 123456, tzinfo=timezone.utc)


def _check_date_format(fmt: Any) -> None:
    """A usable runtime.date_formats entry is a non-empty string of known
    directives that parses its own strftime rendering of _PROBE_INSTANT;
    any other could never match, so it is a ConfigError naming it."""
    try:
        if not isinstance(fmt, str) or not fmt:
            raise ValueError("not a non-empty string")
        strptime_to_java(fmt)
        datetime.strptime(_PROBE_INSTANT.strftime(fmt), fmt)
    except ValueError as exc:
        raise ConfigError(f"runtime.date_formats entry {fmt!r} is unusable: {exc}") from None


def _nonempty_name(value: Any, ctx: str) -> str:
    if not isinstance(value, str) or not value.strip():
        raise ConfigError(f"{ctx} must be a non-empty string, got {value!r}")
    return value


def _table_name(name: str, ctx: str) -> str:
    """``name`` if the JDBC sink can create it, else a ConfigError naming ``ctx``."""
    try:
        jdbc.split_table_name(name)
    except LoadError as exc:
        raise ConfigError(f"{ctx} {name!r} is not a [schema.]table name: {exc}") from None
    return name


def resolve_duplicate_columns(
    columns: list[str], reserved: tuple[str, ...] = reserved_columns()
) -> tuple[list[str], dict[str, str]]:
    """Auto-rename target columns that collide (case-insensitively) with
    reserved columns or earlier targets: append a counter starting at 1
    and bump until free — ``name`` -> ``name1``, ``name2``, ...

    Parity: reference ui/mapping_editor.py:527-554
    (_auto_resolve_duplicates). Returns (resolved column list,
    {original: renamed}).
    """
    seen = {c.lower() for c in reserved}
    out: list[str] = []
    rename_map: dict[str, str] = {}
    for col in columns:
        if col.lower() in seen:
            counter = 1
            new_name = f"{col}{counter}"
            while new_name.lower() in seen:
                counter += 1
                new_name = f"{col}{counter}"
            rename_map[col] = new_name
            col = new_name
        seen.add(col.lower())
        out.append(col)
    return out, rename_map


def validate_mapping_config(
    mapping_config: dict,
    type_mappings: dict | None = None,
    on_duplicate: str = "error",
) -> dict:
    """Validate a mapping config of shape
    ``{collection: {target_table, raw_json_column?, object_id_attribute?,
    mappings: {source_attr: {column, type}}}}``.

    ``raw_json_column`` (default ``raw_json``) may not be a business
    column; it and the business columns are the reserved names.

    Parity: reference config_loader.py:126-171 (every mapping needs
    column+type; every type supported and present in type_mappings).
    Target columns that collide with reserved columns or each other are
    a hard ConfigError by default — the reference's non-interactive
    backend path treats duplicates the same way (schema_manager.py:39-43
    _add_column); auto-rename exists only in its interactive UI editor
    where the user SEES the rename (ui/mapping_editor.py:527-554).
    Pass ``on_duplicate="rename"`` to opt into that UI behavior; the
    applied renames are then surfaced in each collection spec under
    ``rename_map`` ({original: renamed}) instead of being discarded, so
    callers can log or display where data actually landed.
    """
    if on_duplicate not in ("rename", "error"):
        raise ConfigError(f"on_duplicate must be 'rename' or 'error', got {on_duplicate!r}")
    if not isinstance(mapping_config, dict) or not mapping_config:
        raise ConfigError("mapping config must be a non-empty mapping")
    # reference config files nest everything under a top-level
    # ``collections:`` key (config/mapping_config.yaml:1); accept both
    # the wrapped and flat shapes, return flat.
    if set(mapping_config) == {"collections"}:
        mapping_config = mapping_config["collections"]
        if not isinstance(mapping_config, dict) or not mapping_config:
            raise ConfigError("mapping config 'collections' must be a non-empty mapping")
    known_types = set(SUPPORTED_TYPES)
    if type_mappings:
        known_types &= {normalize_type(t) for t in type_mappings}
    out: dict[str, dict] = {}
    for coll, spec in mapping_config.items():
        if not isinstance(spec, dict):
            raise ConfigError(f"mapping for collection '{coll}' must be a mapping")
        target_table = _table_name(str(_require(spec, "target_table", f"collection '{coll}'")),
                                   f"collection '{coll}' target_table")
        mappings = _require(spec, "mappings", f"collection '{coll}'")
        if not isinstance(mappings, dict) or not mappings:
            raise ConfigError(f"collection '{coll}' has no attribute mappings")
        raw_column = _nonempty_name(spec.get("raw_json_column", RAW_JSON),
                                    f"collection '{coll}' raw_json_column")
        if raw_column.lower() in BUSINESS_COLUMNS:
            raise ConfigError(
                f"collection '{coll}' raw_json_column '{raw_column}' is a business "
                f"column (reserved: {BUSINESS_COLUMNS})")
        reserved = reserved_columns(raw_column)
        seen_cols = {c.lower() for c in reserved}
        norm_mappings: dict[str, dict] = {}
        rename_map: dict[str, str] = {}
        for attr, m in mappings.items():
            if not isinstance(m, dict):
                raise ConfigError(f"mapping '{coll}.{attr}' must be a mapping")
            column = _nonempty_name(str(_require(m, "column", f"mapping '{coll}.{attr}'")),
                                    f"mapping '{coll}.{attr}' column")
            mtype = normalize_type(_require(m, "type", f"mapping '{coll}.{attr}'"))
            if mtype not in known_types:
                raise ConfigError(
                    f"unsupported type '{mtype}' for mapping '{coll}.{attr}'"
                )
            if column.lower() in seen_cols:
                if on_duplicate == "error":
                    raise ConfigError(
                        f"duplicate or reserved target column '{column}' in "
                        f"collection '{coll}' (reserved: {reserved}); "
                        f"rename it in the mapping config, or pass "
                        f"on_duplicate='rename' to opt into UI-style auto-rename"
                    )
                original = column
                (column,), _ = resolve_duplicate_columns(
                    [column], reserved=tuple(seen_cols)
                )
                rename_map[original] = column
            seen_cols.add(column.lower())
            norm_mappings[attr] = {"column": column, "type": mtype}
        out[coll] = {
            "target_table": target_table,
            "raw_json_column": raw_column,
            "object_id_attribute": spec.get("object_id_attribute"),
            "mappings": norm_mappings,
            "rename_map": rename_map,
        }
    return out


def normalize_table_name(name: str, default_schema: str = "public") -> str:
    """``schema.table``, lowercased, as ``sinks.jdbc.split_table_name``
    parses it (reference schema_utils.py:24-26)."""
    return ".".join(jdbc.split_table_name(str(name), default_schema))
