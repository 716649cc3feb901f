"""MappingPlan: compile a mapping config into SQL projections.

The reference transforms documents one at a time in Python
(etl_pipeline/transformer.py:7-40). Here the whole per-collection
transform is a declarative projection over a raw-JSON string column,
so Catalyst/Tungsten execute it columnar, fully parallel, with no
Python in the hot path. The plan is SQL text, one query whose nested
SELECTs are its stages (``select_sql``), so building it sends the same
few py4j calls whatever the number of attributes; nothing is cached.

Semantics preserved (SURVEY.md §7 "hard parts" #1):
- attribute ABSENT from the document  -> NULL + entry in missing_columns
  (reference transformer.py:22-25)
- attribute present but JSON null     -> NULL, no error
  (reference transformer.py:50-51)
- attribute present but uncastable    -> NULL + entry in errors
  (reference transformer.py:76-77)

Absence is detected from the keys of the parsed document (map_keys),
since after a schema-applied read absent and null are
indistinguishable.

Column contract: the plan reads each document from the ``raw_json``
column every source emits and returns it under ``raw_json_column``.
Its working columns (``doc``, ``keys``, ``src_<i>``, ``object_id``,
``missing_columns``, ``transform_errors``; see ``work_col``) carry a
``prefix`` no output name starts with, so none takes a target's name;
every name and string enters the text through ``quote_ident`` or
``quote_literal``, so dots, backticks and quotes in them are plain
characters.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config.defaults import DEFAULT_DATE_FORMATS, RAW_JSON
from ..functions.casts import build_cast, cast_error, normalize_type, quote_ident, quote_literal


def exact_col(name: str) -> Column:
    """The column named exactly ``name``: dots and backticks in it are
    part of the name, not a path or quoting."""
    return F.col(quote_ident(name))


def select_sql(df: DataFrame, *stages: list[str]) -> DataFrame:
    """``df`` projected by each stage's SQL expressions in turn, as ONE
    query of nested SELECTs: one parse and one analysis, and py4j sends
    one string where ``selectExpr`` sends its list one element per call.
    ``df`` enters as ``{df}``, a temporary view spark.sql creates and
    drops; braces in the text are doubled."""
    query = "{df}"
    for exprs in stages:
        text = ", ".join(exprs).replace("{", "{{").replace("}", "}}")
        query = f"(SELECT {text} FROM {query})"
    return df.sparkSession.sql(query[1:-1], df=df)


@dataclass(frozen=True)
class AttributeMapping:
    source_attr: str
    column: str
    logical_type: str


@dataclass
class MappingPlan:
    """Compiled projection plan for one collection."""

    collection: str
    target_table: str
    attributes: list[AttributeMapping]
    raw_json_column: str = RAW_JSON
    object_id_attribute: str | None = None
    date_formats: list[str] = field(default_factory=lambda: list(DEFAULT_DATE_FORMATS))

    @classmethod
    def from_config(cls, collection: str, spec: dict,
                    date_formats: list[str] | None = None) -> "MappingPlan":
        attrs = [
            AttributeMapping(a, m["column"], normalize_type(m["type"]))
            for a, m in spec["mappings"].items()
        ]
        return cls(
            collection=collection,
            target_table=spec["target_table"],
            attributes=attrs,
            raw_json_column=spec.get("raw_json_column") or RAW_JSON,
            object_id_attribute=spec.get("object_id_attribute"),
            date_formats=list(date_formats or DEFAULT_DATE_FORMATS),
        )

    @property
    def prefix(self) -> str:
        """Prefix of every working column: the shortest run of two or
        more underscores that no target and not the raw_json_column
        starts with."""
        names = [a.column for a in self.attributes] + [self.raw_json_column]
        prefix = "__"
        while any(n.startswith(prefix) for n in names):
            prefix += "_"
        return prefix

    def work_col(self, name: str) -> str:
        """Name in apply()'s output of working column ``name``:
        ``missing_columns``, ``transform_errors`` or ``object_id``."""
        return self.prefix + name

    def apply(self, df: DataFrame) -> DataFrame:
        """Project a DataFrame bearing the ``raw_json`` string column into
        mapped columns + raw json + the working columns (missing/error
        arrays, object id).

        One projection per stage — parse, extract sources and keys,
        cast, derive the missing/error arrays — so each document is
        parsed ONCE (from_json to map<string,string>: scalars arrive as
        their JSON text, nested values as compact JSON, like
        get_json_object with 1 parse instead of N+1) and each cast runs
        ONCE (re-deriving errors would re-run every multi-format parse).
        """
        p, attrs = self.prefix, self.attributes
        doc, keys, oid = (quote_ident(p + n) for n in ("doc", "keys", "object_id"))
        src = [quote_ident(f"{p}src_{i}") for i in range(len(attrs))]
        target = [quote_ident(a.column) for a in attrs]

        raw = quote_ident(RAW_JSON)
        # the id is a top-level key of the parsed document, looked up
        # like every mapped attribute (a dotted name is not a JSON path)
        oid_value = (f"{doc}[{quote_literal(self.object_id_attribute)}]"
                     if self.object_id_attribute else "CAST(NULL AS STRING)")
        missing = ", ".join(
            f"CASE WHEN NOT array_contains({keys}, {quote_literal(a.source_attr)}) "
            f"THEN {quote_literal(a.column)} END" for a in attrs)
        # a document that failed to parse as a JSON object (keys NULL:
        # malformed, empty, non-object, or NULL input) must surface as a
        # per-document ERROR, not an all-NULL "success" row — the
        # reference's per-document loop throws on it (transformer.py) and
        # marks that document failed while the batch continues. An
        # absent key looks up NULL, so a non-NULL source implies the
        # document has the attribute.
        invalid = quote_literal("document: invalid JSON object")
        errors = ", ".join(
            [f"CASE WHEN {keys} IS NULL THEN {invalid} END"]
            + [cast_error(s, t, a.source_attr, a.logical_type)
               for s, t, a in zip(src, target, attrs)])
        return select_sql(
            df,
            ["*", f"from_json({raw}, 'map<string,string>') AS {doc}"],
            ["*",
             *[f"{doc}[{quote_literal(a.source_attr)}] AS {s}" for s, a in zip(src, attrs)],
             f"map_keys({doc}) AS {keys}",
             f"{oid_value} AS {oid}"],
            [*[f"{build_cast(s, a.logical_type, self.date_formats)} AS {t}"
               for s, t, a in zip(src, target, attrs)],
             *src, keys, f"{raw} AS {quote_ident(self.raw_json_column)}", oid],
            [*target,
             quote_ident(self.raw_json_column),
             f"filter(array({missing}), x -> x IS NOT NULL) AS "
             f"{quote_ident(self.work_col('missing_columns'))}",
             f"filter(array({errors}), x -> x IS NOT NULL) AS "
             f"{quote_ident(self.work_col('transform_errors'))}",
             oid],
        )
