"""MappingPlan: compile a mapping config into Spark Column expressions.

The reference transforms documents one at a time in Python
(etl_pipeline/transformer.py:7-40). Here the whole per-collection
transform is compiled *once* (driver-side) into a declarative projection
over a raw-JSON string column, so Catalyst/Tungsten execute it
columnar, fully parallel, with no Python in the hot path.

Semantics preserved (SURVEY.md §7 "hard parts" #1):
- attribute ABSENT from the document  -> NULL + entry in missing_columns
  (reference transformer.py:22-25)
- attribute present but JSON null     -> NULL, no error
  (reference transformer.py:50-51)
- attribute present but uncastable    -> NULL + entry in errors
  (reference transformer.py:76-77)

Absence is detected from the raw JSON itself via json_object_keys
(Spark >= 3.1), since after a schema-applied read absent and null are
indistinguishable.

Column contract: the plan reads each document from the ``raw_json``
column every source emits and returns it under ``raw_json_column``.
Its working columns (``doc``, ``keys``, ``src_<i>``, ``object_id``,
``missing_columns``, ``transform_errors``; see ``work_col``) carry a
``prefix`` no output name starts with, so none takes a target's name;
output names are referenced quoted, so dots and backticks in them are
plain characters.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config.defaults import DEFAULT_DATE_FORMATS, RAW_JSON
from ..functions.casts import build_cast, cast_error, normalize_type

# compiled-Column cache: plan-spec fingerprint -> apply()'s expression
# bundle (see MappingPlan._build_columns); bounded, cleared wholesale
_COMPILED_CACHE: dict = {}


def exact_col(name: str) -> Column:
    """The column named exactly ``name``: dots and backticks in it are
    part of the name, not a path or quoting."""
    return F.col("`" + name.replace("`", "``") + "`")


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

    # ---- expression builders over the raw-JSON string column ----

    def _cache_key(self):
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        return (
            tuple(self.attributes),
            self.raw_json_column,
            self.object_id_attribute,
            tuple(self.date_formats),
            # a restarted JVM invalidates cached JVM-backed Columns
            id(sc._gateway) if sc is not None else None,
        )

    def _build_columns(self) -> dict:
        """Compile every Column expression apply() needs, once.

        Building these is pure driver-side py4j traffic (~1,900 socket
        round trips, ~0.45 s per call measured) and the result depends
        only on the plan's mapping spec — identical plan configs
        (module-level constants AND per-query reconstructions) hit the
        module cache, so repeated transform_collection calls cost
        DataFrame selects, not expression re-compilation. Column
        objects are immutable unresolved expressions; reusing them
        across input DataFrames is standard Spark."""
        p = self.prefix
        doc, keys, object_id = F.col(f"{p}doc"), F.col(f"{p}keys"), F.col(f"{p}object_id")
        src = [F.col(f"{p}src_{i}") for i in range(len(self.attributes))]
        target = [exact_col(a.column) for a in self.attributes]

        # the id is a top-level key of the parsed document, looked up
        # like every mapped attribute (a dotted name is not a JSON path)
        oid = (doc[self.object_id_attribute] if self.object_id_attribute
               else F.lit(None).cast("string"))
        stage1_cols = [
            doc[a.source_attr].alias(f"{p}src_{i}") for i, a in enumerate(self.attributes)
        ] + [F.map_keys(doc).alias(f"{p}keys"), oid.alias(f"{p}object_id")]
        stage2_cols = (
            [
                build_cast(s, a.logical_type, self.date_formats).alias(a.column)
                for s, a in zip(src, self.attributes)
            ]
            + src
            + [keys, F.col(RAW_JSON).alias(self.raw_json_column), object_id]
        )
        missing = F.filter(
            F.array(
                *[
                    F.when(~F.array_contains(keys, a.source_attr), F.lit(a.column))
                    for a in self.attributes
                ]
            ),
            lambda x: x.isNotNull(),
        )
        # a document that failed to parse as a JSON object (keys NULL:
        # malformed, empty, non-object, or NULL input) must surface as a
        # per-document ERROR, not an all-NULL "success" row — the
        # reference's per-document loop throws on it (transformer.py) and
        # marks that document failed while the batch continues.
        parse_error = F.when(keys.isNull(), F.lit("document: invalid JSON object"))
        errors = F.filter(
            F.array(
                parse_error,
                # an absent key looks up NULL, so a non-NULL source
                # implies the document has the attribute
                *[
                    cast_error(s, t, a.source_attr, a.logical_type)
                    for s, t, a in zip(src, target, self.attributes)
                ]
            ),
            lambda x: x.isNotNull(),
        )
        final_cols = target + [
            exact_col(self.raw_json_column),
            missing.alias(self.work_col("missing_columns")),
            errors.alias(self.work_col("transform_errors")),
            object_id,
        ]
        return {
            "doc": F.from_json(F.col(RAW_JSON), "map<string,string>").alias(f"{p}doc"),
            "stage1": stage1_cols,
            "stage2": stage2_cols,
            "final": final_cols,
        }

    def apply(self, df: DataFrame) -> DataFrame:
        """Project a DataFrame bearing the ``raw_json`` string column into
        mapped columns + raw json + the working columns (missing/error
        arrays, object id).

        Staged so each JSON document is parsed ONCE (from_json to
        map<string,string> — scalar values arrive as their JSON text,
        nested values as compact JSON, exactly like get_json_object, but
        with 1 parse instead of N+1) and each cast expression is
        evaluated ONCE: stage 1 parses + extracts sources and keys,
        stage 2 casts, stage 3 derives missing/error arrays from the
        materialized columns (naively re-deriving errors would re-run
        every multi-format parse — 2x the transform cost at scale).
        The compiled Column expressions are cached per plan spec
        (see _build_columns).
        """
        key = self._cache_key()
        cols = _COMPILED_CACHE.get(key)
        if cols is None:
            if len(_COMPILED_CACHE) >= 64:
                _COMPILED_CACHE.clear()
            cols = self._build_columns()
            _COMPILED_CACHE[key] = cols
        stage0 = df.select("*", cols["doc"])
        stage1 = stage0.select("*", *cols["stage1"])
        stage2 = stage1.select(*cols["stage2"])
        return stage2.select(*cols["final"])
