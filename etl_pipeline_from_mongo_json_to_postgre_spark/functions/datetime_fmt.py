"""Python strptime pattern -> Java (Spark) datetime pattern translation.

The reference parses dates by trying a configured list of strptime
formats in order (reference etl_pipeline/transformer.py:82-111, formats
config/app_config.yaml:12-22). Spark's to_date/to_timestamp take Java
DateTimeFormatter-style patterns, so the engine translates each strptime
pattern once (driver-side) into a Java pattern and an RLIKE guard;
``functions.casts`` composes them into a SQL coalesce() chain of
try-parses — JVM-side, whole-stage-codegen friendly.
"""

from __future__ import annotations

# The formats a date or datetime value is tried in, first match wins
# (reference config/app_config.yaml:12-22); runtime.date_formats
# replaces them.
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

# strptime directive -> Java DateTimeFormatter fragment.
# %f: Python microseconds (6 digits) -> SSSSSS.
# %z: Python +HHMM / +HH:MM / Z -> XX accepts +HHMM and Z.
_DIRECTIVES: dict[str, str] = {
    "%Y": "yyyy",
    "%y": "yy",
    "%m": "MM",
    "%d": "dd",
    "%H": "HH",
    "%I": "hh",
    "%M": "mm",
    "%S": "ss",
    "%f": "SSSSSS",
    "%p": "a",
    "%z": "XX",
    "%b": "MMM",
    "%B": "MMMM",
    "%a": "EEE",
    "%A": "EEEE",
    "%j": "DDD",
    "%%": "%",
}

# Directives whose presence means the pattern carries time-of-day.
_TIME_DIRECTIVES = {"%H", "%I", "%M", "%S", "%f", "%p", "%z"}


def strptime_to_java(fmt: str) -> str:
    """Translate one strptime pattern to a Java datetime pattern.

    A literal run holding a letter or one of Java's reserved characters
    ``'[]{}#`` is single-quoted, ``'`` doubled, so Java reads it as
    literal text: ``%Y-%m-%dT%H:%M:%S`` -> ``yyyy-MM-dd'T'HH:mm:ss``.
    """
    out: list[str] = []
    literal: list[str] = []

    def flush() -> None:
        if not literal:
            return
        text = "".join(literal)
        if any(c.isalpha() or c in "'[]{}#" for c in text):
            out.append("'" + text.replace("'", "''") + "'")
        else:
            out.append(text)
        literal.clear()

    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "%" and i + 1 < len(fmt):
            directive = fmt[i : i + 2]
            if directive not in _DIRECTIVES:
                raise ValueError(f"unsupported strptime directive {directive!r} in {fmt!r}")
            flush()
            out.append(_DIRECTIVES[directive])
            i += 2
        else:
            literal.append(ch)
            i += 1
    flush()
    return "".join(out)


# strptime directive -> regex fragment matching values that format could
# parse. Used to guard expensive formatter attempts behind a cheap RLIKE:
# a multi-format parse becomes coalesce(when(rlike_i, try_parse_i)...),
# so each row pays ~one formatter invocation instead of up to N failed
# attempts (Java formatter failures raise internally — costly at scale).
_REGEX: dict[str, str] = {
    "%Y": r"\d{4}",
    "%y": r"\d{2}",
    "%m": r"\d{1,2}",
    "%d": r"\d{1,2}",
    "%H": r"\d{1,2}",
    "%I": r"\d{1,2}",
    "%M": r"\d{1,2}",
    "%S": r"\d{1,2}",
    "%f": r"\d{1,6}",
    "%p": r"[AaPp][Mm]",
    "%z": r"(?:[+-]\d{4}|Z)",
    "%b": r"[A-Za-z]{3}",
    "%B": r"[A-Za-z]+",
    "%a": r"[A-Za-z]{3}",
    "%A": r"[A-Za-z]+",
    "%j": r"\d{1,3}",
    "%%": r"%",
}

_RE_SPECIALS = set(".^$*+?()[]{}|\\")


def strptime_to_regex(fmt: str) -> str:
    """Anchored regex matching strings this strptime format can parse
    (slightly loose is fine: a false positive just costs one formatter
    attempt, the coalesce falls through on parse failure)."""
    out: list[str] = ["^"]
    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "%" and i + 1 < len(fmt):
            directive = fmt[i : i + 2]
            if directive not in _REGEX:
                raise ValueError(f"unsupported strptime directive {directive!r} in {fmt!r}")
            out.append(_REGEX[directive])
            i += 2
        else:
            out.append("\\" + ch if ch in _RE_SPECIALS else ch)
            i += 1
    out.append("$")
    return "".join(out)


def has_time_component(fmt: str) -> bool:
    """True if a strptime pattern parses time-of-day (drives the
    date-only -> midnight promotion rule, reference transformer.py:98-111)."""
    return any(d in fmt for d in _TIME_DIRECTIVES)


def translate_formats(formats: list[str]) -> list[str]:
    return [strptime_to_java(f) for f in formats]
