"""Collection transform: raw documents -> (data_df, audit_df).

Spark-first re-expression of the reference's per-document loop
(etl_pipeline/pipeline.py:188-284): one declarative DAG per collection
with two outputs — the destination-table frame and the audit-trail
frame — instead of per-row transform+insert+commit. Row-level failures
become audit columns (validate-before-write), which strengthens the
reference's per-row rollback semantics (SURVEY.md §7 hard-part #2).

The input is any frame with the ``raw_json`` column every source emits;
the plan's working columns (``MappingPlan.work_col``) feed the status
and the audit frame and never reach the data frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config.defaults import (
    OBJECT_STATUS_MISSING,
    OBJECT_STATUS_NEW,
    STATUS_ERROR,
    STATUS_MISSING,
    STATUS_SUCCESS,
)
from ..functions.casts import quote_ident, quote_literal
from ..plans.mapping_plan import MappingPlan, exact_col


def transform_collection(
    df: DataFrame,
    plan: MappingPlan,
    object_status: str = OBJECT_STATUS_NEW,
    ingested_at=None,
) -> tuple[DataFrame, DataFrame]:
    """Apply a MappingPlan; return (data_df, audit_df).

    data_df columns: mapped columns + raw_json_column + ingested_at +
    source_collection + status  (reference sql/schema.sql:1-10 shape).
    audit_df columns: ingested_at, object_id, source_collection,
    object_name, object_status, missing_columns, processing_status
    (reference sql/schema.sql:25-33, etl_pipeline/audit.py:13-31).

    ``ingested_at`` may be pinned to a literal timestamp for
    deterministic tests; defaults to current_timestamp() (reference
    stamps one ingestion_date per run, pipeline.py:91-92).
    """
    enriched = enrich_collection(df, plan, ingested_at=ingested_at)
    return split_enriched(enriched, plan, object_status=object_status)


def enrich_collection(
    df: DataFrame,
    plan: MappingPlan,
    ingested_at=None,
) -> DataFrame:
    """The parse-and-cast half of transform_collection: the plan's
    projection plus ingested_at, source_collection and status. Both
    outputs of split_enriched are projections of this frame, so a
    caller that materializes it once parses each document once."""
    ts = ("current_timestamp()" if ingested_at is None
          else f"CAST({quote_literal(str(ingested_at))} AS TIMESTAMP)")
    status = (f"CASE WHEN size({quote_ident(plan.work_col('transform_errors'))}) > 0 "
              f"THEN {quote_literal(STATUS_ERROR)} ELSE {quote_literal(STATUS_SUCCESS)} END")
    return plan.apply(df).selectExpr(
        "*",
        f"{ts} AS ingested_at",
        f"{quote_literal(plan.collection)} AS source_collection",
        f"{status} AS status",
    )


def split_enriched(
    enriched: DataFrame,
    plan: MappingPlan,
    object_status: str,
) -> tuple[DataFrame, DataFrame]:
    """(data_df, audit_df) projected from an enrich_collection frame."""
    data_cols = [a.column for a in plan.attributes] + [
        plan.raw_json_column,
        "ingested_at",
        "source_collection",
        "status",
    ]
    data_df = enriched.select(*[exact_col(c) for c in data_cols])

    audit_df = enriched.select(
        F.col("ingested_at"),
        F.col(plan.work_col("object_id")).alias("object_id"),
        F.col("source_collection"),
        F.lit(plan.target_table).alias("object_name"),
        F.lit(object_status).alias("object_status"),
        F.array_sort(plan.work_col("missing_columns")).alias("missing_columns"),
        F.col("status").alias("processing_status"),
    )
    return data_df, audit_df


def missing_table_audit_rows(spark, tables: list[str], collection_lookup: dict[str, str],
                             ingested_at=None) -> DataFrame:
    """One audit row per expected table absent from the input
    (reference pipeline.py:103-126): object_status=MISSING,
    processing_status=missing, no object_id, empty missing_columns.
    Built from an Arrow table, a local table scan: writing it starts no
    Python worker; no table gives an empty frame. SQL expressions, not
    Column methods: run() calls this on the driver's main thread while
    the input documents are in memory, and Column methods there made
    PySpark's call-site capture import IPython (26 MB of driver RSS)."""
    import pyarrow as pa

    names = sorted(tables)
    stamp = None if ingested_at is None else str(ingested_at)
    df = spark.createDataFrame(pa.table({
        "ingested_at": pa.array([stamp] * len(names), pa.string()),
        "object_name": pa.array(names, pa.string()),
        "source_collection": pa.array([collection_lookup.get(t) for t in names], pa.string()),
    }))
    ts = "current_timestamp()" if stamp is None else "CAST(ingested_at AS TIMESTAMP)"
    return df.selectExpr(
        f"{ts} AS ingested_at",
        "CAST(NULL AS STRING) AS object_id",
        "source_collection",
        "object_name",
        f"{quote_literal(OBJECT_STATUS_MISSING)} AS object_status",
        "CAST(array() AS ARRAY<STRING>) AS missing_columns",
        f"{quote_literal(STATUS_MISSING)} AS processing_status",
    )
