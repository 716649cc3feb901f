"""Malformed-document isolation (reference parity: the reference wraps
each document's transform+insert so one bad document rolls back only
its own row, etl_pipeline/pipeline.py:238-266 / per-document error
isolation).

The Spark-first equivalent is column-level: ``from_json`` yields NULL
for a syntactically broken document, the MappingPlan records the
failure in transform_errors, and the row lands in the audit trail as
processing_status='error' with a NULL object_id — no task failure, no
job abort, every OTHER document unaffected. At 100 TB this is the only
viable shape: a corrupt shard of a trillion-row ingest must degrade to
error rows, not retries.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.transform import transform_collection
from ..plans.mapping_plan import MappingPlan
from ..sources.parquet import fan_out, load_table

RUN_TS = "2024-06-01 00:00:00"
BREAK_MOD = 10  # doc_id % BREAK_MOD == 0 -> syntactically broken JSON

_PLAN = MappingPlan.from_config(
    "documents",
    {
        "target_table": "public.documents_docs",
        "object_id_attribute": "doc_id",
        "mappings": {
            "doc_id": {"column": "doc_id", "type": "bigint"},
            "lang": {"column": "lang", "type": "string"},
        },
    },
)


def p14_malformed_doc_isolation(spark, sf_dir):
    """queries() entry: every BREAK_MOD-th document is corrupted into
    non-JSON (truncated object + trailing garbage) before the mapping
    transform; the audit census proves per-document isolation — broken
    docs become error rows with NULL object_id, everything else is
    untouched 'success' with its id intact. Oracle recomputes the
    census from the raw table via the same doc_id rule."""
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    good = F.to_json(F.struct("doc_id", "lang"))
    broken = F.concat(F.lit('{"doc_id": '), F.col("doc_id").cast("string"),
                      F.lit(" %%BROKEN"))
    raw = docs.select(
        F.when(F.col("doc_id") % BREAK_MOD == 0, broken)
        .otherwise(good).alias("raw_json")
    )
    _, audit = transform_collection(raw, _PLAN, ingested_at=RUN_TS)
    return audit.groupBy("processing_status").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.col("object_id").isNull().cast("bigint")).alias("n_null_ids"),
        F.count_distinct("object_id").cast("bigint").alias("n_distinct_ids"),
    )


QUERIES = {
    "p14_malformed_doc_isolation": p14_malformed_doc_isolation,
}

ORACLE_SQL = {
    "p14_malformed_doc_isolation": f"""
        WITH st AS (
            SELECT CASE WHEN doc_id % {BREAK_MOD} = 0 THEN 'error'
                        ELSE 'success' END AS processing_status,
                   doc_id
            FROM documents
        )
        SELECT processing_status,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) FILTER (WHERE processing_status = 'error')
                    AS BIGINT) AS n_null_ids,
               CAST(count(DISTINCT doc_id)
                    FILTER (WHERE processing_status = 'success')
                    AS BIGINT) AS n_distinct_ids
        FROM st GROUP BY processing_status
    """,
}
