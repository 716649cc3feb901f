"""VARIANT-native ingest + mapped projection (VERDICT r6 task 7).

The classic S1/P1 path re-parses raw_json through a full from_json
schema; dq_json_type_drift proved Spark 4 VARIANT works in this
environment, so this module is the modernized ingest: documents are
parsed ONCE into a binary-encoded VARIANT column and every mapped
attribute extraction is a ``try_variant_get`` pushed into the
projection — repeated extraction never re-tokenizes the document, and
missing attributes surface as
NULLs exactly like the MappingPlan path (reference transformer.py's
missing-attribute semantics, mirrored by p1_mapped_projection).

p1_variant_projection is the hash-checked twin: same documents, same
output frame, same DuckDB oracle result as p1_mapped_projection — the
two paths must be indistinguishable to a consumer. The single-parse
plan shape is pinned in tests/test_variant_ingest.py.

Scale note (100 TB): VARIANT keeps the parse cost at one pass per
document and shreds extraction to binary field lookups; with N mapped
attributes the from_json path pays O(N)-ish tokenizer work per doc
(or one wide parse whose struct carries every field through the
exchange), while the VARIANT column ships one compact binary value.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .transform_queries import _orders_as_docs


def p1_variant_projection(spark, sf_dir):
    """Mapped projection over the VARIANT ingest path: parse_json once,
    try_variant_get per mapped attribute (bigint/string/double/date
    casts ride the variant getter; missing attribute -> NULL ->
    missing_cols marker), output identical to p1_mapped_projection."""
    docs = _orders_as_docs(spark, sf_dir)
    staged = docs.select(F.parse_json("raw_json").alias("doc"))
    vg = F.try_variant_get
    priority = vg(F.col("doc"), "$.o_orderpriority", "string")
    return staged.select(
        vg(F.col("doc"), "$.o_orderkey", "bigint").alias("order_id"),
        vg(F.col("doc"), "$.o_orderstatus", "string").alias("order_status"),
        vg(F.col("doc"), "$.o_totalprice", "double").alias("total_amount"),
        vg(F.col("doc"), "$.o_orderdate", "date").alias("order_date"),
        priority.alias("priority"),
        F.when(priority.isNull(), F.lit("priority")).otherwise(F.lit(""))
        .alias("missing_cols"),
        F.lit("success").alias("status"),
    )


ORACLE_SQL = {
    # identical result contract to the MappingPlan path — the oracle IS
    # p1's oracle (twin paths must be indistinguishable to a consumer)
    "p1_variant_projection": """
        SELECT o_orderkey AS order_id,
               o_orderstatus AS order_status,
               o_totalprice AS total_amount,
               CAST(o_orderdate AS DATE) AS order_date,
               CASE WHEN o_orderpriority = '1-URGENT' THEN NULL
                    ELSE o_orderpriority END AS priority,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 'priority'
                    ELSE '' END AS missing_cols,
               'success' AS status
        FROM orders
    """,
}

QUERIES = {
    "p1_variant_projection": p1_variant_projection,
}
