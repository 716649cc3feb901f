"""Streaming semantic dedup (VERDICT r10 task 6): the cell-probe
classification of ``inc_semantic_dedup`` run through the REAL
Structured Streaming engine — arriving embedding micro-batches
classified against a static indexed corpus via ``foreachBatch``, the
``stream_load_audit_census`` harness pattern applied to the semantic
family.

The reference's only incrementality is whole-batch re-runs
(etl_pipeline/pipeline.py:91-92); a continuously-ingesting training
pipeline instead wants each arriving embedding batch classified as
it lands: duplicate-of-index (skip re-embedding / re-training) or
novel. Per micro-batch the candidate join is BATCH x INDEX keyed on
cell_id — never index x index — so per-batch cost is
|batch| x probed-cell occupancy; at 100 TB the index is a
cell-bucketed table (the ann_ivf_topk layout) and each micro-batch is
a bucket-pruned probe.

Delivery semantics: the per-batch writer OVERWRITES its own
batch-scoped directory, so a redelivered micro-batch (foreachBatch is
at-least-once under retries) replaces its previous output instead of
appending — idempotent by construction, pinned by
test_stream_semantic.py::test_redelivered_batch_adds_no_canonicals.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..operators.similarity import (
    CENTROIDS,
    INC_VEC_BATCH_MOD,
    NEAR_DUP_THRESHOLD,
    ORACLE_SQL as _SIM_ORACLE,
    _dot,
    _matrix_dots,
    _primary_cell,
    _top2_cells,
    _vectors,
)
from ..functions.sampling import scrambled_bucket
from .harness import staged_stream

BATCH_OUT_SCHEMA = "vec_id bigint, is_dup boolean, canonical_id bigint"


def assign_cells(vecs: DataFrame) -> DataFrame:
    """(vec_id, v, nrm) -> + cell_id: max-dot coarse-quantizer
    assignment as a map-side expression over broadcast centroid
    literals — identical to inc_semantic_dedup's assignment, so the
    streaming and batch twins share one rule by construction."""
    return vecs.select(
        "vec_id", "v", "nrm",
        _matrix_dots(F.col("v"), CENTROIDS).alias("dots"),
    ).select(
        "vec_id", "v", "nrm",
        _primary_cell(F.col("dots")).cast("long").alias("cell_id"),
    )


def classify_semantic_batch(batch_df: DataFrame, index_df: DataFrame) -> DataFrame:
    """One arriving micro-batch against the static index: candidates
    join on cell_id only, exact-cosine verify at NEAR_DUP_THRESHOLD,
    keep-first canonical (min matching index id — the index always
    wins over the arrival; postgres_audit_repository.py:68-70
    semantics). batch_df: (vec_id, v, nrm, cell_id); index_df:
    (cell_id, idx_id, iv, inrm)."""
    b = batch_df.select(
        "cell_id", "vec_id",
        F.col("v").alias("bv"), F.col("nrm").alias("bn"),
    )
    cos = _dot(F.col("bv"), F.col("iv")) / (F.col("bn") * F.col("inrm"))
    matches = (
        b.join(index_df, "cell_id")
        .where(F.round(cos, 6) >= NEAR_DUP_THRESHOLD)
        .groupBy("vec_id")
        .agg(F.min("idx_id").alias("min_idx"))
    )
    return (
        batch_df.select("vec_id")
        .join(matches, "vec_id", "left")
        .select(
            "vec_id",
            F.col("min_idx").isNotNull().alias("is_dup"),
            F.coalesce("min_idx", F.col("vec_id")).alias("canonical_id"),
        )
    )


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


def _run_classify_stream(spark, arriving: DataFrame, arr_schema: str,
                         index: DataFrame, classify) -> DataFrame:
    """The ONE classify loop both semantic twins run (r12 review: the
    mp twin had copy-pasted it): arriving slice through
    ``harness.staged_stream`` (4 arrival files, one micro-batch each)
    -> foreachBatch ``classify(batch, index)`` -> idempotent
    overwrite-per-batch sink -> union of the written batches. An EMPTY
    arriving slice fires zero micro-batches, so no batch dir exists and
    spark.read would raise PATH_NOT_FOUND instead of matching the
    oracle's empty result (r11 review) — the batch twins return an
    empty frame on the same input.

    The result is |arriving slice| rows (10% of the embedding table —
    bounded and small at every test SF); like stream_load_audit_census
    it is materialized eagerly and re-wrapped as a local DataFrame
    before the staged scratch is removed."""
    with staged_stream(spark, arriving, arr_schema) as (stream, scratch):
        out_dir = os.path.join(scratch, "out")
        writer = semantic_batch_writer(out_dir)

        def _process(batch_df: DataFrame, batch_id: int) -> None:
            writer(classify(batch_df, index), batch_id)

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
    assigned = assign_cells(_vectors(spark, sf_dir)).localCheckpoint(
        eager=True
    )  # index + arrival slices read it once
    is_batch = scrambled_bucket(F.col("vec_id"), INC_VEC_BATCH_MOD) == 0
    index = assigned.where(~is_batch).select(
        "cell_id",
        F.col("vec_id").alias("idx_id"),
        F.col("v").alias("iv"), F.col("nrm").alias("inrm"),
    ).localCheckpoint(eager=True)  # static across every micro-batch
    arriving = assigned.where(is_batch).select(
        "vec_id", "v", "nrm", "cell_id"
    )
    return _run_classify_stream(
        spark, arriving,
        "vec_id bigint, v array<double>, nrm double, cell_id bigint",
        index, classify_semantic_batch,
    )


def assign_cells_mp(vecs: DataFrame) -> DataFrame:
    """(vec_id, v, nrm) -> + cell_id, cell2: primary AND second-best
    coarse cells under the family's shared rank rule (dot DESC, cell
    ASC; similarity._top2_cells mask-then-argmax) — identical to
    inc_semantic_dedup_mp's assignment, so the streaming and batch mp
    twins share one rule by construction."""
    return (
        vecs.select(
            "vec_id", "v", "nrm",
            _matrix_dots(F.col("v"), CENTROIDS).alias("dots"),
        )
        .withColumn("cell_id", _primary_cell(F.col("dots")).cast("long"))
        .withColumn(
            "cell2",
            _top2_cells(F.col("dots"), F.col("cell_id")).cast("long"),
        )
        .drop("dots")
    )


def classify_semantic_batch_mp(
    batch_df: DataFrame, index_df: DataFrame
) -> DataFrame:
    """One arriving micro-batch against the static index, MULTI-PROBE:
    the arrival fans out to its top-2 cells (textbook multi-probe IVF —
    index vectors stay in their single primary cell, only queries fan
    out), closing the boundary-miss class for the streaming path: an
    arrival whose primary differs from its near-dup's index cell meets
    it in the arrival's SECOND-best cell. An index vector lives in ONE
    cell so no candidate pair is generated twice (MIN needs no
    distinct); cost is exactly 2x probed-cell occupancy per arrival.
    batch_df: (vec_id, v, nrm, cell_id, cell2); index_df: (cell_id,
    idx_id, iv, inrm)."""
    probes = batch_df.select(
        "vec_id",
        F.col("v").alias("bv"), F.col("nrm").alias("bn"),
        F.explode(F.array(F.col("cell_id"), F.col("cell2")))
        .alias("cell_id"),
    )
    cos = _dot(F.col("bv"), F.col("iv")) / (F.col("bn") * F.col("inrm"))
    matches = (
        probes.join(index_df, "cell_id")
        .where(F.round(cos, 6) >= NEAR_DUP_THRESHOLD)
        .groupBy("vec_id")
        .agg(F.min("idx_id").alias("min_idx"))
    )
    return (
        batch_df.select("vec_id")
        .join(matches, "vec_id", "left")
        .select(
            "vec_id",
            F.col("min_idx").isNotNull().alias("is_dup"),
            F.coalesce("min_idx", F.col("vec_id")).alias("canonical_id"),
        )
    )


def stream_semantic_dedup_mp(spark, sf_dir):
    """queries() entry (VERDICT r12 task 5): stream_semantic_dedup
    lifted to top-2 multi-probe — the same staged-arrivals -> file
    readStream -> foreachBatch -> idempotent overwrite-per-batch sink
    harness, with the arriving side probing its top-2 cells and the
    oracle EXACTLY inc_semantic_dedup_mp's SQL: if the engine dropped,
    doubled, or single-probed any micro-batch, the union could not
    hash-match the mp batch twin. The index stays single-celled
    (multi-probe fans out queries, never the index), so per-batch cost
    is 2x probed-cell occupancy and the sink/redelivery contract is
    unchanged (test_stream_semantic.py; harness shared via
    _run_classify_stream)."""
    assigned = assign_cells_mp(_vectors(spark, sf_dir)).localCheckpoint(
        eager=True
    )  # index + arrival slices read it once
    is_batch = scrambled_bucket(F.col("vec_id"), INC_VEC_BATCH_MOD) == 0
    index = assigned.where(~is_batch).select(
        "cell_id",
        F.col("vec_id").alias("idx_id"),
        F.col("v").alias("iv"), F.col("nrm").alias("inrm"),
    ).localCheckpoint(eager=True)  # static across every micro-batch
    arriving = assigned.where(is_batch).select(
        "vec_id", "v", "nrm", "cell_id", "cell2"
    )
    return _run_classify_stream(
        spark, arriving,
        "vec_id bigint, v array<double>, nrm double, "
        "cell_id bigint, cell2 bigint",
        index, classify_semantic_batch_mp,
    )


QUERIES = {
    "stream_semantic_dedup": stream_semantic_dedup,
    "stream_semantic_dedup_mp": stream_semantic_dedup_mp,
}

# The streaming twins must equal the batch twins row-for-row: same SQL.
ORACLE_SQL = {
    "stream_semantic_dedup": _SIM_ORACLE["inc_semantic_dedup"],
    "stream_semantic_dedup_mp": _SIM_ORACLE["inc_semantic_dedup_mp"],
}
