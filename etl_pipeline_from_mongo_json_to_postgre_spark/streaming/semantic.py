"""Streaming semantic dedup (VERDICT r10 task 6): the batch-against-
index classify of ``inc_semantic_dedup[_mp]`` run through the REAL
Structured Streaming engine — arriving embedding micro-batches
classified against a static indexed corpus via ``foreachBatch``, the
``stream_load_audit_census`` harness pattern applied to the semantic
family.

The reference's only incrementality is whole-batch re-runs
(etl_pipeline/pipeline.py:91-92); a continuously-ingesting training
pipeline instead wants each arriving embedding batch classified as
it lands: duplicate-of-index (skip re-embedding / re-training) or
novel. This module owns only the streaming plumbing: the cell
assignment, the arrival/index split and the per-batch classify are
the batch entries' own steps (similarity.assign_cells,
split_arrivals, classify_semantic_batch), so the streaming and batch
twins share one implementation, not two copies of one rule.

Delivery semantics: the per-batch writer OVERWRITES its own
batch-scoped directory, so a redelivered micro-batch (foreachBatch is
at-least-once under retries) replaces its previous output instead of
appending — idempotent by construction, pinned by
test_stream_semantic.py::test_redelivered_batch_adds_no_canonicals.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ..operators.similarity import (
    ORACLE_SQL as _SIM_ORACLE,
    _vectors,
    assign_cells,
    classify_semantic_batch,
    split_arrivals,
)
from .harness import staged_stream

BATCH_OUT_SCHEMA = "vec_id bigint, is_dup boolean, canonical_id bigint"


def semantic_batch_writer(out_dir: str):
    """Idempotent per-batch sink: each micro-batch owns (and on
    redelivery REPLACES) its batch-scoped subdirectory. The checkpoint
    guarantees batch_id stability across retries, so a re-fired batch
    overwrites its own rows — no duplicate canonicals can accumulate."""

    def write(out_df: DataFrame, batch_id: int) -> None:
        out_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"b{batch_id:05d}")
        )

    return write


def _run_classify_stream(spark, sf_dir, multi_probe: bool) -> DataFrame:
    """The ONE classify loop both semantic twins run: the corpus is
    assigned (assign_cells) and split (split_arrivals) once; the
    arriving slice goes through ``harness.staged_stream`` (4 arrival
    files, one micro-batch each) -> foreachBatch
    ``classify_semantic_batch(batch, index)`` against the static,
    checkpointed index -> idempotent overwrite-per-batch sink -> union
    of the written batches. An EMPTY arriving slice fires zero
    micro-batches, so no batch dir exists and spark.read would raise
    PATH_NOT_FOUND instead of matching the oracle's empty result (r11
    review) — the batch twins return an empty frame on the same input.

    The result is |arriving slice| rows (10% of the embedding table —
    bounded and small at every test SF); like stream_load_audit_census
    it is materialized eagerly and re-wrapped as a local DataFrame
    before the staged scratch is removed."""
    assigned = assign_cells(
        _vectors(spark, sf_dir), multi_probe=multi_probe
    ).localCheckpoint(eager=True)  # index + arrival slices read it once
    arriving, index = split_arrivals(assigned)
    index = index.localCheckpoint(eager=True)  # static across micro-batches
    with staged_stream(spark, arriving, arriving.schema) as (stream, scratch):
        out_dir = os.path.join(scratch, "out")
        writer = semantic_batch_writer(out_dir)

        def _process(batch_df: DataFrame, batch_id: int) -> None:
            writer(classify_semantic_batch(batch_df, index), batch_id)

        (
            stream.writeStream.foreachBatch(_process)
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(scratch, "ckpt"))
            .start()
            .awaitTermination()
        )
        if not os.path.isdir(out_dir):
            return spark.createDataFrame([], BATCH_OUT_SCHEMA)
        result = spark.read.schema(BATCH_OUT_SCHEMA).parquet(
            os.path.join(out_dir, "b*")
        )
        return spark.createDataFrame(result.collect(), result.schema)


def stream_semantic_dedup(spark, sf_dir):
    """queries() entry: the arriving 10% embedding slice classified
    against the static index through the real streaming engine (see
    _run_classify_stream for the harness contract). The oracle is
    EXACTLY inc_semantic_dedup's SQL: if the engine dropped, doubled,
    or misclassified any micro-batch, the union could not hash-match
    the batch twin."""
    return _run_classify_stream(spark, sf_dir, multi_probe=False)


def stream_semantic_dedup_mp(spark, sf_dir):
    """queries() entry (VERDICT r12 task 5): stream_semantic_dedup
    lifted to top-2 multi-probe, with the oracle EXACTLY
    inc_semantic_dedup_mp's SQL: if the engine dropped, doubled, or
    single-probed any micro-batch, the union could not hash-match the
    mp batch twin. The index stays single-celled (multi-probe fans out
    queries, never the index), so the sink/redelivery contract is
    unchanged (test_stream_semantic.py)."""
    return _run_classify_stream(spark, sf_dir, multi_probe=True)


QUERIES = {
    "stream_semantic_dedup": stream_semantic_dedup,
    "stream_semantic_dedup_mp": stream_semantic_dedup_mp,
}

# The streaming twins must equal the batch twins row-for-row: same SQL.
ORACLE_SQL = {
    "stream_semantic_dedup": _SIM_ORACLE["inc_semantic_dedup"],
    "stream_semantic_dedup_mp": _SIM_ORACLE["inc_semantic_dedup_mp"],
}
