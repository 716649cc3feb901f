"""Error-capturing, multi-format Column-expression builders.

This is the Spark-first re-expression of the reference's per-value
transform engine (etl_pipeline/transformer.py:43-125): every logical
type becomes a *pure Column expression* (JVM-side, vectorized under
whole-stage codegen), never a Python UDF. Failure semantics follow the
reference: a cast failure yields (NULL, error-message) instead of an
exception — we use try_cast/try-parse forms so the plan works under
both ANSI and legacy modes.

``_CAST_GROUPS`` is the one table of logical types: config validation
accepts exactly its names (``SUPPORTED_TYPES``), and the generated DDL
gives each one its default SQL type (``DEFAULT_TYPE_MAPPINGS``) unless
runtime.type_mappings overrides it. A new type is a new entry there.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from .datetime_fmt import DEFAULT_DATE_FORMATS, strptime_to_java, strptime_to_regex

TRUTHY = ("true", "t", "yes", "y", "1")
FALSY = ("false", "f", "no", "n", "0")


def normalize_type(type_name: str) -> str:
    """Lowercase/strip a logical type name (reference type_utils.py:1-6)."""
    return str(type_name).strip().lower()


def multi_format_timestamp(col: Column, formats: list[str] | None = None) -> Column:
    """First-match-wins multi-format parse (reference transformer.py:82-111).

    Each formatter attempt is guarded by a compiled regex (RLIKE) so a
    row pays ~one Java formatter invocation instead of up to N failed
    attempts; coalesce keeps the reference's ordered-format semantics.
    Date-only formats parse to midnight, matching
    datetime.combine(value, time.min).
    """
    formats = formats or DEFAULT_DATE_FORMATS
    attempts = [
        F.when(col.rlike(strptime_to_regex(f)),
               F.try_to_timestamp(col, F.lit(strptime_to_java(f))))
        for f in formats
    ]
    return F.coalesce(*attempts)


def multi_format_date(col: Column, formats: list[str] | None = None) -> Column:
    """Multi-format date parse; datetime-bearing formats truncate to the
    date part (reference transformer.py:82-95 takes .date())."""
    return multi_format_timestamp(col, formats).cast("date")


def normalize_boolean(col: Column) -> Column:
    """Truthy/falsy string table + numeric fallback
    (reference transformer.py:114-125): {true,t,yes,y,1}/{false,f,no,n,0}
    case/whitespace-insensitive; numbers -> value != 0; else NULL.

    NB: F.trim strips only ASCII spaces; the reference's str.strip()
    strips ALL whitespace (tabs, newlines, ...), so trim via regex —
    found by the hypothesis property test."""
    norm = F.lower(F.regexp_replace(col.cast("string"), r"^\s+|\s+$", ""))
    as_num = norm.try_cast("double")
    return (
        F.when(norm.isin(*TRUTHY), F.lit(True))
        .when(norm.isin(*FALSY), F.lit(False))
        .when(as_num.isNotNull(), as_num != 0)
        .otherwise(F.lit(None).cast("boolean"))
    )


def cast_integer(col: Column, dtype: str = "int") -> Column:
    """int()-like cast: numeric strings and floats truncate toward zero,
    non-numeric -> NULL (reference transformer.py:58-61 + int() semantics).
    Going through decimal keeps 19-digit longs exact (double would not).
    """
    # decimal -> integral cast already truncates toward zero in Spark,
    # and try_cast NULLs on overflow; one decimal parse per value.
    as_dec = F.trim(col.cast("string")).try_cast("decimal(38,18)")
    return as_dec.try_cast(dtype)


# The castable logical types: names -> (value expression over a string
# Column and the date formats, default SQL type of the column in the
# generated DDL, which runtime.type_mappings overrides). Names are
# normalize_type()-ed (reference config/app_config.yaml:26-42,
# etl_pipeline/type_utils.py:9-26).
_CAST_GROUPS: dict[tuple[str, ...], tuple[Callable[[Column, list[str]], Column], str]] = {
    ("text", "string", "varchar"): (lambda c, _: c.cast("string"), "TEXT"),
    ("integer", "int"): (lambda c, _: cast_integer(c, "int"), "INTEGER"),
    ("bigint",): (lambda c, _: cast_integer(c, "bigint"), "BIGINT"),
    ("smallint",): (lambda c, _: cast_integer(c, "smallint"), "SMALLINT"),
    ("float", "double", "double precision"): (
        lambda c, _: F.trim(c.cast("string")).try_cast("double"), "DOUBLE PRECISION"),
    # Decimal(str(value)) — through string to avoid float artifacts
    # (reference transformer.py:62-63)
    ("numeric", "decimal"): (
        lambda c, _: F.trim(c.cast("string")).try_cast("decimal(38,18)"), "NUMERIC"),
    ("boolean", "bool"): (lambda c, _: normalize_boolean(c), "BOOLEAN"),
    ("date",): (multi_format_date, "DATE"),
    ("datetime",): (multi_format_timestamp, "TIMESTAMPTZ"),
}
_CASTS = {name: cast for names, cast in _CAST_GROUPS.items() for name in names}
SUPPORTED_TYPES = frozenset(_CASTS)
DEFAULT_TYPE_MAPPINGS: dict[str, str] = {t: sql for t, (_, sql) in _CASTS.items()}


def build_cast(col: Column, logical_type: str,
               date_formats: list[str] | None = None) -> Column:
    """Value expression for a logical type; NULL on uncastable input."""
    t = normalize_type(logical_type)
    if t not in _CASTS:
        raise KeyError(f"unsupported logical type: {logical_type}")
    return _CASTS[t][0](col, date_formats or DEFAULT_DATE_FORMATS)


def cast_error(source: Column, casted: Column, attr: str, logical_type: str) -> Column:
    """Companion error expression (reference transformer.py:36-38,76-77):
    source present and non-null but cast produced NULL -> error message."""
    msg = f"{attr}: invalid {normalize_type(logical_type)} value"
    return F.when(source.isNotNull() & casted.isNull(), F.lit(msg))
