"""Multi-collection JSON input scan (reference S1/S2).

Input contract (reference etl_pipeline/ingestion.py:7-30): one JSON
object ``{collection_name: [document, ...]}``. The reference
materializes the whole file in driver RAM (json.load); here the
*shape validation* stays driver-side and cheap (read only the top-level
keys), while document data flows through Spark as a raw-JSON string
column per collection — at scale, per-collection line-delimited JSON
or parquet staging replaces the single file, with the same API.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..errors import InputError


def validate_input_shape(data: object) -> dict[str, list]:
    """Strict dict -> list -> dict nesting (reference ingestion.py:15-28)."""
    if not isinstance(data, dict):
        raise InputError("input root must be a JSON object of collections")
    for name, docs in data.items():
        if not isinstance(docs, list):
            raise InputError(f"collection '{name}' must be a list of documents")
        for d in docs:
            if not isinstance(d, dict):
                raise InputError(f"collection '{name}' contains a non-object document")
    return data


def load_input_json(path: str) -> dict[str, list]:
    """Driver-side load + validation (reference ingestion.py:7-30).

    Suitable for config-scale inputs; for data-scale inputs stage one
    line-delimited file per collection and use read_collection_jsonl.
    """
    try:
        with open(path, "r", encoding="utf-8") as fh:
            data = json.load(fh)
    except json.JSONDecodeError as exc:
        raise InputError(f"invalid JSON input: {exc}") from exc
    return validate_input_shape(data)


def collections_to_raw_df(
    spark: SparkSession, data: dict[str, list]
) -> dict[str, DataFrame]:
    """Each collection -> DataFrame with a single ``raw_json`` string
    column (one JSON document per row). Document structure stays opaque
    until a MappingPlan projects it — mirrors the reference keeping the
    full document for the raw-JSON column (pipeline.py:231-233).

    The ``json.dumps`` text of every document goes to the JVM once, as
    one Arrow table per collection, and is planned as a local table
    scan: no job over these frames starts a Python worker. ``json.dumps``
    escapes every non-ASCII character (``ensure_ascii``), so the text is
    valid UTF-8 for Arrow even when a string holds a lone surrogate."""
    import pyarrow as pa

    return {
        name: spark.createDataFrame(pa.table({
            "raw_json": pa.array([json.dumps(d, default=str) for d in docs], pa.string()),
        }))
        for name, docs in data.items()
    }


def read_collection_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Data-scale input path: one collection as line-delimited JSON
    (the staging format the module docstring promises). Reads as raw
    TEXT, not spark.read.json — schema stays opaque until a MappingPlan
    projects it (identical to collections_to_raw_df), and malformed
    lines are PRESERVED as rows instead of being dropped or shunted to
    a _corrupt_record column: the transform engine flags them as
    per-document errors in the audit trail (plans/mapping_plan.py),
    which is the reference's failed-document semantics, not a silent
    data loss. Blank lines are skipped (they are formatting, not
    documents). Splittable + partition-parallel at any size."""
    return (
        spark.read.text(path)
        .where(F.length(F.trim(F.col("value"))) > 0)
        .select(F.col("value").alias("raw_json"))
    )

