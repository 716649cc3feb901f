"""Incremental load path: streaming documents -> mapping transform ->
per-micro-batch sink (SURVEY §7 phase 6a).

The reference's only incrementality is re-running the whole batch
pipeline (etl_pipeline/pipeline.py:91-92 stamps a fresh ingestion_date
per run). The idiomatic Spark replacement is a Structured Streaming
source feeding the SAME mapping/transform engine per micro-batch, with
``foreachBatch`` fanning each batch out to the two JDBC sinks (data
table + audit table) exactly like the batch path does. Each micro-batch
takes the cut ``pipeline.run`` takes: ``enrich_collection`` once,
stored, then ``split_enriched`` into the data and audit frames, so a
document is parsed once for both writes. The stream is read like every
other source, from its ``raw_json`` column, under any mapping
``validate_mapping_config`` accepts.

Delivery semantics: foreachBatch + JDBC append is at-least-once — a
retried micro-batch re-appends. Production dedup key: (batch_id stamped
into the rows, object_id); the checkpoint guarantees batch_id stability
across retries, so a MERGE/upsert keyed on it is exactly-once; that is
why ``stream_load`` takes the checkpoint dir from its caller, who keeps
it. Batch writes stay partition-parallel (write_table caps connections
and keeps one transaction per partition).

The registry entry below stages its documents with
``harness.staged_stream``, which removes the arrivals, the sink and the
checkpoint once the census is collected.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config.defaults import AUDIT_TABLE, OBJECT_STATUS_NEW
from ..operators.transform import enrich_collection, split_enriched
from ..plans.mapping_plan import MappingPlan
from ..sinks.jdbc import write_table
from ..sources.parquet import load_table
from .harness import staged_stream

BatchWriter = Callable[[DataFrame, DataFrame, int], None]


def jdbc_batch_writer(plan: MappingPlan, db_config: Mapping,
                      audit_table: str = AUDIT_TABLE) -> BatchWriter:
    """Production writer: append data + audit frames over JDBC
    (mirrors the reference's per-document data+audit insert pair,
    pipeline.py:238-266, at micro-batch granularity)."""

    def write(data_df: DataFrame, audit_df: DataFrame, batch_id: int) -> None:
        write_table(data_df, plan.target_table, db_config, mode="append")
        write_table(audit_df, audit_table, db_config, mode="append")

    return write


def stream_load(stream_df: DataFrame, plan: MappingPlan,
                batch_writer: BatchWriter, checkpoint_dir: str,
                ingested_at=None):
    """Run the mapping transform over every micro-batch of ``stream_df``
    (a streaming DataFrame with the collection's documents in a
    ``raw_json`` text column, as every source emits them) and hand
    (data_df, audit_df) to ``batch_writer``; the data frame carries the
    text under the plan's ``raw_json_column``. ``checkpoint_dir`` is
    the caller's: a run on the same dir resumes after the last
    committed batch.

    Returns the started StreamingQuery (availableNow trigger: drain
    what's available, then stop — callers own awaitTermination). Swap
    the trigger for a processing-time interval on an unbounded source;
    nothing else changes.
    """

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        enriched = enrich_collection(batch_df, plan, ingested_at=ingested_at).persist()
        try:
            data, audit = split_enriched(
                enriched, plan, object_status=OBJECT_STATUS_NEW)
            batch_writer(data, audit, batch_id)
        finally:
            # released per batch: on an unbounded stream the stored
            # blocks must not wait for garbage collection
            enriched.unpersist()

    return (
        stream_df.writeStream.foreachBatch(_process)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


# ---------------------------------------------------------------------------
# Driver-checked end-to-end entry (VERDICT r7 task 6): the reference's
# whole job — ingest -> transform -> load -> audit (pipeline.py:188-284)
# — through the REAL streaming engine, with the audit census recomputed
# over the WRITTEN sink output. If foreachBatch dropped a micro-batch or
# wrote one twice, the counts could not match the oracle's census over
# the raw input: the entry IS the exactly-once-per-batch check (with an
# availableNow file source, every staged file is processed exactly once
# per the checkpointed offsets; the parquet writer is the in-sandbox
# twin of jdbc_batch_writer — swap writers, nothing else changes).
# ---------------------------------------------------------------------------

RUN_TS = "2024-06-01 00:00:00"
NCHARS_ERROR_OVER = 300  # docs longer than this poison the bigint cast

_LOAD_PLAN = MappingPlan.from_config(
    "documents",
    {
        "target_table": "public.documents_docs",
        "object_id_attribute": "doc_id",
        "mappings": {
            "doc_id": {"column": "doc_id", "type": "bigint"},
            "lang": {"column": "lang", "type": "string"},
            "n_chars": {"column": "n_chars", "type": "bigint"},
        },
    },
)


def parquet_batch_writer(out_dir: str) -> BatchWriter:
    """In-sandbox sink twin of jdbc_batch_writer: append data + audit
    parquet per micro-batch, batch_id stamped into the rows (the
    production dedup/upsert key — see module docstring)."""

    def write(data_df: DataFrame, audit_df: DataFrame, batch_id: int) -> None:
        data_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append").parquet(os.path.join(out_dir, "data"))
        audit_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append").parquet(os.path.join(out_dir, "audit"))

    return write


def stream_load_audit_census(spark, sf_dir):
    """queries() entry: documents staged as 4 arrival files -> file
    readStream (one micro-batch per file) -> MappingPlan transform ->
    foreachBatch parquet sink -> audit census over the WRITTEN audit
    table. Error path: n_chars > NCHARS_ERROR_OVER is serialized as an
    uncastable string (processing_status='error'); missing path:
    lang='es' documents omit the lang key (missing_columns carries it,
    status stays 'success' — the reference's P2/P3 semantics). The
    oracle recomputes the same census from the raw documents table, so
    a dropped or doubled micro-batch hash-mismatches."""
    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select(
        F.to_json(
            F.struct(
                "doc_id",
                # to_json drops null fields -> 'lang' key missing (a
                # NULL source lang therefore also lands in
                # missing_columns — the oracle counts it the same way)
                F.when(F.col("lang") != "es", F.col("lang")).alias("lang"),
                # poison ONLY when n_chars is provably over the
                # threshold: a NULL n_chars stays NULL -> key omitted ->
                # missing-column semantics, matching the oracle's
                # CASE WHEN n_chars > T (NULL -> not error)
                F.when(F.col("n_chars") > NCHARS_ERROR_OVER,
                       F.lit("many chars"))
                .otherwise(F.col("n_chars").cast("string"))
                .alias("n_chars"),
            )
        ).alias("raw_json")
    )
    # The census is |statuses| rows, so it is materialized eagerly and
    # re-wrapped as a local DataFrame — a bounded, metadata-sized
    # collect, after which nothing references the scratch files.
    with staged_stream(spark, raw, "raw_json string") as (stream, scratch):
        out_dir = os.path.join(scratch, "out")
        stream_load(stream, _LOAD_PLAN, parquet_batch_writer(out_dir),
                    checkpoint_dir=os.path.join(scratch, "ckpt"),
                    ingested_at=RUN_TS).awaitTermination()
        audit = spark.read.parquet(os.path.join(out_dir, "audit"))
        census = audit.groupBy("processing_status").agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count_distinct("object_id").cast("bigint")
            .alias("n_distinct_ids"),
            F.sum(
                F.array_contains("missing_columns", "lang").cast("bigint")
            ).alias("n_missing_lang"),
        )
        return spark.createDataFrame(census.collect(), census.schema)


QUERIES = {
    "stream_load_audit_census": stream_load_audit_census,
}

ORACLE_SQL = {
    "stream_load_audit_census": f"""
        WITH st AS (
            SELECT CASE WHEN n_chars > {NCHARS_ERROR_OVER} THEN 'error'
                        ELSE 'success' END AS processing_status,
                   doc_id, lang
            FROM documents
        )
        SELECT processing_status,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct_ids,
               CAST(count(*) FILTER (WHERE lang = 'es' OR lang IS NULL)
                    AS BIGINT) AS n_missing_lang
        FROM st GROUP BY processing_status
    """,
}
