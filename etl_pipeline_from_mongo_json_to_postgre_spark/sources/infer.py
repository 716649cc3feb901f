"""Distributed schema inference (reference ui/run_pipeline.py:261-355).

The reference infers a mapping config by looping over every document in
driver memory: union of attribute names (:261-266), per-value type
classification (:302-319), observed-type unification (:287-299), and a
default object-id pick (:269-275). Here the same rules run as ONE Spark
pass per collection: ``variant_explode`` fans each document out to
(attribute, value) rows with JSON types preserved (VARIANT keeps
int/decimal/bool/string fidelity that ``get_json_object`` loses), a
Column expression classifies every value, and a groupBy collects the
observed-type set per attribute. Only the per-attribute type sets —
metadata-sized, bounded by the schema width — come back to the driver
for the unification rules.

Classification parity table (reference _infer_value_type):
  JSON bool            -> boolean
  JSON int             -> integer
  JSON float/decimal   -> numeric
  JSON string          -> datetime-format match -> datetime
                          date-format match     -> date
                          integer-string        -> integer
                          numeric-string        -> numeric
                          else                  -> text
  JSON null            -> skipped (value is None, :283-284)
  JSON array/object    -> text (catch-all, :318-319)

At 100 TB this stays shuffle-light: the only shuffle is the
groupBy(attribute) over pre-aggregated partial collect_sets, and the
result cardinality is the attribute count, not the row count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config.defaults import DEFAULT_DATE_FORMATS, RAW_JSON, reserved_columns
from ..config.loader import resolve_duplicate_columns
from ..functions.casts import multi_format_timestamp, quote_ident
from ..functions.datetime_fmt import has_time_component


def _split_formats(date_formats: list[str]) -> tuple[list[str], list[str]]:
    """DATE_ONLY_FORMATS vs DATETIME_FORMATS (reference ui/run_pipeline.py:18-34)."""
    date_only = [f for f in date_formats if not has_time_component(f)]
    with_time = [f for f in date_formats if has_time_component(f)]
    return date_only, with_time


def classify_string(expr: str, date_formats: list[str] | None = None) -> Column:
    """Type label for a string value, the SQL expression ``expr``
    (reference ui/run_pipeline.py:310-355): datetime formats first, then
    date-only, then int-string, then float-string, else text. A format
    matches through the transform's own kernel,
    ``casts.multi_format_timestamp``, so a value labelled ``date`` or
    ``datetime`` is one the transform parses."""
    date_only, with_time = _split_formats(date_formats or list(DEFAULT_DATE_FORMATS))

    def parses(formats: list[str]) -> Column:
        if not formats:
            return F.lit(False)
        return F.expr(f"{multi_format_timestamp(expr, formats)} IS NOT NULL")

    col = F.expr(expr)
    return (
        F.when(parses(with_time), F.lit("datetime"))
        .when(parses(date_only), F.lit("date"))
        .when(col.try_cast("bigint").isNotNull(), F.lit("integer"))
        .when(col.try_cast("double").isNotNull(), F.lit("numeric"))
        .otherwise(F.lit("text"))
    )


def classify_variant_type(vtype: Column, sval: str,
                          date_formats: list[str] | None = None) -> Column:
    """Label from ``schema_of_variant`` output + the string rendering
    (SQL text ``sval``). VOID (JSON null) -> NULL label, filtered by the
    caller (reference skips None values, ui/run_pipeline.py:283-284)."""
    return (
        F.when(vtype == "VOID", F.lit(None).cast("string"))
        .when(vtype == "BOOLEAN", F.lit("boolean"))
        .when(vtype.isin("TINYINT", "SMALLINT", "INT", "BIGINT"), F.lit("integer"))
        .when(vtype.startswith("DECIMAL") | vtype.isin("FLOAT", "DOUBLE"), F.lit("numeric"))
        .when(vtype == "STRING", classify_string(sval, date_formats))
        .otherwise(F.lit("text"))  # ARRAY/OBJECT and anything exotic
    )


def unify_types(observed: set[str]) -> str:
    """Observed-type set -> one mapping type
    (reference ui/run_pipeline.py:287-299)."""
    if not observed:
        return "text"
    if observed == {"integer"}:
        return "integer"
    if observed <= {"integer", "numeric"}:
        return "numeric" if "numeric" in observed else "integer"
    if observed == {"boolean"}:
        return "boolean"
    if observed == {"date"}:
        return "date"
    if len(observed) > 1:
        return "text"
    return next(iter(observed))


def select_object_id(attributes: list[str]) -> str:
    """``_id`` then ``id`` then first attribute (reference :269-275)."""
    if "_id" in attributes:
        return "_id"
    if "id" in attributes:
        return "id"
    return attributes[0] if attributes else "id"


def observed_types(df: DataFrame, date_formats: list[str] | None = None) -> DataFrame:
    """(attribute, observed_types array) per top-level JSON attribute —
    the distributed core. One variant parse, one explode, one
    partial-aggregated groupBy."""
    exploded = (
        df.select(
            F.explode(
                F.expr(f"try_cast(parse_json({quote_ident(RAW_JSON)}) AS map<string, variant>)")
            ).alias("attribute", "_val")
        )
        .select(
            "attribute",
            F.schema_of_variant(F.col("_val")).alias("_vtype"),
            F.col("_val").cast("string").alias("_sval"),
        )
    )
    labeled = exploded.select(
        "attribute",
        classify_variant_type(F.col("_vtype"), "_sval", date_formats).alias("_label"),
    )
    return labeled.groupBy("attribute").agg(
        F.sort_array(F.collect_set("_label")).alias("observed_types")
    )


def infer_collection_mapping(
    df: DataFrame,
    date_formats: list[str] | None = None,
) -> tuple[list[str], dict[str, dict]]:
    """(sorted attributes, {attr: {column, type}}) for one collection —
    the Spark twin of the reference's per-collection inference loop."""
    rows = observed_types(df, date_formats).collect()
    types = {r["attribute"]: unify_types(set(r["observed_types"])) for r in rows}
    attributes = sorted(types)
    mappings = {a: {"column": a, "type": types[a]} for a in attributes}
    return attributes, mappings


def build_mapping_config(
    collections: dict[str, DataFrame],
    target_schema: str = "public",
    date_formats: list[str] | None = None,
) -> dict:
    """Full inferred mapping config, shaped exactly like the reference's
    ``_build_mapping_config`` output (ui/run_pipeline.py:240-258), with
    the editor's auto-rename applied (a ``status`` key maps to
    ``status1``), so it passes strict validation."""
    collections_config: dict[str, dict] = {}
    for name, df in collections.items():
        attributes, mappings = infer_collection_mapping(df, date_formats)
        columns, _ = resolve_duplicate_columns(attributes, reserved_columns(RAW_JSON))
        for attr, column in zip(attributes, columns):
            mappings[attr]["column"] = column
        collections_config[name] = {
            "target_table": f"{target_schema}.{name}",
            "raw_json_column": RAW_JSON,
            "object_id_attribute": select_object_id(attributes),
            "mappings": mappings,
        }
    return {"collections": collections_config}


def infer_mapping_from_json(
    spark: SparkSession,
    path: str,
    target_schema: str = "public",
) -> dict:
    """End-to-end: multi-collection JSON file -> inferred mapping config
    (the headless twin of the reference's mapping-editor wizard)."""
    from .json_source import collections_to_raw_df, load_input_json

    data = load_input_json(path)
    return build_mapping_config(
        collections_to_raw_df(spark, data), target_schema=target_schema
    )
