"""Error-capturing, multi-format cast kernels as SQL expression text.

This is the Spark-first re-expression of the reference's per-value
transform engine (etl_pipeline/transformer.py:43-125): every logical
type becomes a *pure SQL expression* (JVM-side, vectorized under
whole-stage codegen), never a Python UDF. Failure semantics follow the
reference: a cast failure yields (NULL, error-message) instead of an
exception — we use try_cast/try-parse forms so the plan works under
both ANSI and legacy modes.

Each kernel maps an input SQL expression (a column reference or a
call) to SQL text, run by ``selectExpr`` or ``F.expr``; every name and
string enters the text through ``quote_ident`` or ``quote_literal``.

``_CAST_GROUPS`` is the one table of logical types: config validation
accepts exactly its names (``SUPPORTED_TYPES``), and the generated DDL
gives each one its default SQL type (``DEFAULT_TYPE_MAPPINGS``) unless
runtime.type_mappings overrides it. A new type is a new entry there.
"""

from __future__ import annotations

from typing import Callable

from .datetime_fmt import DEFAULT_DATE_FORMATS, strptime_to_java, strptime_to_regex

TRUTHY = ("true", "t", "yes", "y", "1")
FALSY = ("false", "f", "no", "n", "0")


def quote_ident(name: str) -> str:
    """``name`` as a SQL identifier: backtick-quoted with backticks
    doubled, so dots and backticks in it are part of the name."""
    return "`" + name.replace("`", "``") + "`"


def quote_literal(text: str) -> str:
    """``text`` as a SQL string literal: single-quoted with ``\\`` and
    ``'`` escaped, so the parser reads back exactly ``text``."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def normalize_type(type_name: str) -> str:
    """Lowercase/strip a logical type name (reference type_utils.py:1-6)."""
    return str(type_name).strip().lower()


def multi_format_timestamp(expr: str, formats: list[str] | None = None) -> str:
    """First-match-wins multi-format parse (reference transformer.py:82-111).

    Each formatter attempt is guarded by a compiled regex (RLIKE) so a
    row pays ~one Java formatter invocation instead of up to N failed
    attempts; coalesce keeps the reference's ordered-format semantics.
    Date-only formats parse to midnight, matching
    datetime.combine(value, time.min).
    """
    attempts = ", ".join(
        f"CASE WHEN {expr} RLIKE {quote_literal(strptime_to_regex(f))} "
        f"THEN try_to_timestamp({expr}, {quote_literal(strptime_to_java(f))}) END"
        for f in formats or DEFAULT_DATE_FORMATS
    )
    return f"coalesce({attempts})"


def multi_format_date(expr: str, formats: list[str] | None = None) -> str:
    """Multi-format date parse; datetime-bearing formats truncate to the
    date part (reference transformer.py:82-95 takes .date())."""
    return f"CAST({multi_format_timestamp(expr, formats)} AS DATE)"


def normalize_boolean(expr: str) -> str:
    """Truthy/falsy string table + numeric fallback
    (reference transformer.py:114-125): {true,t,yes,y,1}/{false,f,no,n,0}
    case/whitespace-insensitive; numbers -> value != 0; else NULL.

    NB: trim() strips only ASCII spaces; the reference's str.strip()
    strips ALL whitespace (tabs, newlines, ...), so trim via regex —
    found by the hypothesis property test."""
    edges = quote_literal(r"^\s+|\s+$")
    norm = f"lower(regexp_replace(CAST({expr} AS STRING), {edges}, ''))"
    as_num = f"try_cast({norm} AS DOUBLE)"
    truthy, falsy = (", ".join(map(quote_literal, vals)) for vals in (TRUTHY, FALSY))
    return (
        f"CASE WHEN {norm} IN ({truthy}) THEN true WHEN {norm} IN ({falsy}) THEN false "
        f"WHEN {as_num} IS NOT NULL THEN {as_num} != 0 ELSE CAST(NULL AS BOOLEAN) END"
    )


def cast_integer(expr: str, dtype: str = "INT") -> str:
    """int()-like cast: numeric strings and floats truncate toward zero,
    non-numeric -> NULL (reference transformer.py:58-61 + int() semantics).
    Going through decimal keeps 19-digit longs exact (double would not).
    """
    # decimal -> integral cast already truncates toward zero in Spark,
    # and try_cast NULLs on overflow; one decimal parse per value.
    return f"try_cast(try_cast(trim(CAST({expr} AS STRING)) AS DECIMAL(38,18)) AS {dtype})"


# The castable logical types: names -> (value expression over a string
# SQL expression and the date formats, default SQL type of the column in
# the generated DDL, which runtime.type_mappings overrides). Names are
# normalize_type()-ed (reference config/app_config.yaml:26-42,
# etl_pipeline/type_utils.py:9-26).
_CAST_GROUPS: dict[tuple[str, ...], tuple[Callable[[str, list[str]], str], str]] = {
    ("text", "string", "varchar"): (lambda e, _: f"CAST({e} AS STRING)", "TEXT"),
    ("integer", "int"): (lambda e, _: cast_integer(e, "INT"), "INTEGER"),
    ("bigint",): (lambda e, _: cast_integer(e, "BIGINT"), "BIGINT"),
    ("smallint",): (lambda e, _: cast_integer(e, "SMALLINT"), "SMALLINT"),
    ("float", "double", "double precision"): (
        lambda e, _: f"try_cast(trim(CAST({e} AS STRING)) AS DOUBLE)", "DOUBLE PRECISION"),
    # Decimal(str(value)) — through string to avoid float artifacts
    # (reference transformer.py:62-63)
    ("numeric", "decimal"): (
        lambda e, _: f"try_cast(trim(CAST({e} AS STRING)) AS DECIMAL(38,18))", "NUMERIC"),
    ("boolean", "bool"): (lambda e, _: normalize_boolean(e), "BOOLEAN"),
    ("date",): (multi_format_date, "DATE"),
    ("datetime",): (multi_format_timestamp, "TIMESTAMPTZ"),
}
_CASTS = {name: cast for names, cast in _CAST_GROUPS.items() for name in names}
SUPPORTED_TYPES = frozenset(_CASTS)
DEFAULT_TYPE_MAPPINGS: dict[str, str] = {t: sql for t, (_, sql) in _CASTS.items()}


def build_cast(expr: str, logical_type: str,
               date_formats: list[str] | None = None) -> str:
    """Value expression for a logical type; NULL on uncastable input."""
    t = normalize_type(logical_type)
    if t not in _CASTS:
        raise KeyError(f"unsupported logical type: {logical_type}")
    return _CASTS[t][0](expr, date_formats or DEFAULT_DATE_FORMATS)


def cast_error(source: str, casted: str, attr: str, logical_type: str) -> str:
    """Companion error expression (reference transformer.py:36-38,76-77):
    source present and non-null but cast produced NULL -> error message."""
    msg = quote_literal(f"{attr}: invalid {normalize_type(logical_type)} value")
    return f"CASE WHEN {source} IS NOT NULL AND {casted} IS NULL THEN {msg} END"
