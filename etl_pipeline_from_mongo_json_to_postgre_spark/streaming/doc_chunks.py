"""Streaming document chunking (SURVEY §2.8 extension x RAG family).

The landing-zone shape of a retrieval pipeline: documents arrive as
files, each is chunked into overlapping token windows ON ARRIVAL
(stateless map — chunking needs no cross-document state), and a
running census aggregates downstream. This module runs the SAME chunk
expression as operators/chunking.py through the real streaming engine
(``harness.watch_table`` source, availableNow trigger,
``harness.drain_to_memory`` sink), so the batch oracle checks the
streaming execution path bit-for-bit. ``stream_ann_cell_assign`` runs
the same plumbing over the embeddings table.

Scale note: stateless per-document chunking keeps streaming state at
exactly the census aggregate (|distinct n_tokens| rows — at most
CHUNK_TOKENS); the chunk table itself would flow straight to a sink in
production (foreachBatch parquet/JDBC), never through state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import word_hashes
from ..operators.chunking import _DUCK_CHUNKS, _WORDS, CHUNK_STRIDE, CHUNK_TOKENS
from .harness import drain_to_memory, watch_table


def stream_chunk_length_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: chunk-length census through the streaming
    engine — documents chunked on arrival with the SAME window
    geometry and tokenization constants as the batch operator (the
    batch path reads through load_table + fan_out, so the streaming
    frame substitutes the scan and the projection above it is
    rebuilt identically here), one complete-mode aggregate over
    n_tokens. Oracle = the same census in batch SQL over the chunk
    CTE."""
    stream = watch_table(spark, sf_dir, "documents")
    w = _WORDS(F.col("text"))
    staged = stream.where(F.size(w) > 0).select(
        "doc_id", word_hashes(w).alias("wh"))
    wh = F.col("wh")
    n = F.size(wh)
    chunk_structs = F.transform(
        F.sequence(F.lit(0), n - 1, F.lit(CHUNK_STRIDE)),
        lambda s: F.struct(
            F.least(n - s, F.lit(CHUNK_TOKENS)).cast("bigint")
            .alias("n_tokens"),
        ),
    )
    census = (
        staged.select(F.explode(chunk_structs).alias("c"))
        .groupBy(F.col("c.n_tokens").alias("n_tokens"))
        .agg(F.count("*").alias("n_chunks"))
    )
    drain_to_memory(census, "stream_chunk_census", "complete")
    return spark.table("stream_chunk_census")


def ann_cell_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_ann_cell_assign's streaming per-cell census over the
    arriving embeddings, ready to drain (tools/stream_ann_decompose.py
    drains it too and reads the query's per-batch progress)."""
    from ..operators.ann_trained import (
        _coarse_scores,
        _require_trained,
        planted_v_column,
    )
    from ..operators.similarity import assign_cells

    _require_trained()
    stream = watch_table(spark, sf_dir, "embeddings").select("vec_id")
    # ONE definition of the planted vector and ONE cell assignment,
    # both shared with the batch path
    assigned = assign_cells(stream.select(planted_v_column().alias("v")),
                            _coarse_scores(F.col("v")))
    return assigned.groupBy(F.col("cell_id").alias("cell")).agg(
        F.count("*").alias("n_vecs"))


def stream_ann_cell_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: IVF index maintenance at ingest — embedding
    vectors are assigned to their TRAINED coarse cell as they arrive
    (stateless map against the broadcast trained centroids; exactly
    what keeps an IVFADC index current as new vectors land), with a
    complete-mode per-cell occupancy census. Planted-corpus vectors
    are derived from the arriving vec_ids the same way the batch
    ann_trained fixture derives them, so the oracle is the batch cell
    census in SQL. State = one row per cell (16)."""
    drain_to_memory(ann_cell_census(spark, sf_dir), "stream_ann_cells",
                    "complete")
    return spark.table("stream_ann_cells")


def _ann_cell_oracle() -> str:
    from ..operators.ann_trained import (
        DIM,
        TRAINED_CENTROIDS,
        _duck_planted,
    )
    from ..operators.similarity import _duck_fold_sum, _duck_list

    if TRAINED_CENTROIDS is None:  # bootstrap before training artifact
        return ""
    half = [sum(x * x for x in c) / 2.0 for c in TRAINED_CENTROIDS]
    scores = "[" + ", ".join(
        f"({_duck_fold_sum(f'list_transform(range(1, {DIM} + 1), d -> v[d] * ({_duck_list(c)})[d])')}) - {half[i]!r}"
        for i, c in enumerate(TRAINED_CENTROIDS)
    ) + "]"
    return f"""
        WITH planted AS ({_duck_planted()})
        SELECT CAST(list_position(scores, list_max(scores)) AS BIGINT)
                   AS cell,
               count(*) AS n_vecs
        FROM (SELECT vec_id, {scores} AS scores FROM planted)
        GROUP BY 1
    """


ORACLE_SQL = {
    "stream_chunk_length_census": f"""
        SELECT n_tokens, count(*) AS n_chunks
        FROM ({_DUCK_CHUNKS})
        GROUP BY n_tokens
    """,
}

QUERIES = {
    "stream_chunk_length_census": stream_chunk_length_census,
}

_cell_sql = _ann_cell_oracle()
if _cell_sql:
    ORACLE_SQL["stream_ann_cell_assign"] = _cell_sql
    QUERIES["stream_ann_cell_assign"] = stream_ann_cell_assign
