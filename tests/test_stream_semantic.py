"""stream_semantic_dedup (VERDICT r10 task 6): per-micro-batch
idempotency and batch-twin equality for the streaming semantic dedup."""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F


def _write_embeddings(tmp_path, vecs, ids=None):
    ids = list(range(len(vecs))) if ids is None else ids
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(
                    [[float(x) for x in v] for v in vecs],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array([0] * len(ids), pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    return str(tmp_path)


def test_redelivered_batch_adds_no_canonicals(spark, tmp_path):
    """foreachBatch is at-least-once under retries; the sink contract is
    that a REDELIVERED micro-batch (same batch_id) replaces its own
    output instead of appending — re-processing must yield the exact
    same sink rows, no new canonicals. A DIFFERENT batch_id writes its
    own directory and coexists."""
    from etl_pipeline_from_mongo_json_to_postgre_spark.operators.similarity import (
        CENTROIDS,
        _vectors,
        assign_cells,
        classify_semantic_batch,
    )
    from etl_pipeline_from_mongo_json_to_postgre_spark.streaming.semantic import (
        BATCH_OUT_SCHEMA,
        semantic_batch_writer,
    )

    rng = np.random.RandomState(5)
    c0 = np.array(CENTROIDS[0]) / np.linalg.norm(CENTROIDS[0])
    c3 = np.array(CENTROIDS[3]) / np.linalg.norm(CENTROIDS[3])
    # index: ids 0-3 (two near c0, two near c3); arrivals: id 10 a
    # near-dup of index id 1, id 11 novel (far from everything, its own
    # cell region but below threshold against the index)
    base = [
        c0 + 0.01 * rng.randn(64),
        c0 + 0.01 * rng.randn(64),
        c3 + 0.01 * rng.randn(64),
        c3 + 0.01 * rng.randn(64),
        None,  # placeholder replaced below
        None,
    ]
    base[4] = base[1] + 0.001 * rng.randn(64)   # dup of index id 1
    base[5] = -c0 + 0.02 * rng.randn(64)        # novel
    sf = _write_embeddings(tmp_path, base, ids=[0, 1, 2, 3, 10, 11])

    assigned = assign_cells(_vectors(spark, sf))
    index = assigned.where(F.col("vec_id") < 10).select(
        "cell_id",
        F.col("vec_id").alias("idx_id"),
        F.col("v").alias("iv"), F.col("nrm").alias("inrm"),
    )
    batch = assigned.where(F.col("vec_id") >= 10)

    out = classify_semantic_batch(batch, index)
    expected = {r.vec_id: (r.is_dup, r.canonical_id) for r in out.collect()}
    # ids 0 AND 1 both sit near c0, so both clear the threshold for the
    # arrival; keep-first takes the MINIMUM matching index id — 0
    assert expected[10] == (True, 0), "dup arrival canonicalizes keep-first"
    assert expected[11][0] is False and expected[11][1] == 11

    sink = tmp_path / "sink"
    writer = semantic_batch_writer(str(sink))
    writer(out, 0)
    once = sorted(
        spark.read.schema(BATCH_OUT_SCHEMA).parquet(str(sink / "b*"))
        .collect()
    )
    writer(out, 0)  # redelivery: same batch_id re-fires
    twice = sorted(
        spark.read.schema(BATCH_OUT_SCHEMA).parquet(str(sink / "b*"))
        .collect()
    )
    assert twice == once, "a redelivered batch must not add sink rows"
    assert len(twice) == 2

    writer(out.withColumn("vec_id", F.col("vec_id") + 100), 1)
    total = spark.read.schema(BATCH_OUT_SCHEMA).parquet(
        str(sink / "b*")).count()
    assert total == 4, "a NEW batch_id appends its own directory"


def test_stream_equals_batch_twin(spark, tmp_path):
    """The streaming entry must equal inc_semantic_dedup row-for-row on
    the same table (the two twins share the scrambled-bucket slice, the
    cell rule, and the canonical rule — this pins that the micro-batch
    decomposition changes nothing)."""
    from etl_pipeline_from_mongo_json_to_postgre_spark.operators.similarity import (
        inc_semantic_dedup,
    )
    from etl_pipeline_from_mongo_json_to_postgre_spark.streaming.semantic import (
        stream_semantic_dedup,
    )

    rng = np.random.RandomState(17)
    vecs = [rng.randn(64) for _ in range(60)]
    sf = _write_embeddings(tmp_path, vecs)

    stream_rows = sorted(stream_semantic_dedup(spark, sf).collect())
    batch_rows = sorted(inc_semantic_dedup(spark, sf).collect())
    assert len(stream_rows) > 0, "the 10% slice must be non-empty"
    assert stream_rows == batch_rows


def test_empty_arriving_slice_returns_empty_frame(spark, tmp_path):
    """An embeddings table whose ids ALL land outside the scrambled
    arriving bucket must yield an EMPTY result — matching the batch
    twin — not a path-not-found crash when zero micro-batches were
    written (r11 review finding)."""
    from etl_pipeline_from_mongo_json_to_postgre_spark.functions.sampling import (
        KNUTH_MULT,
        SCRAMBLE_MOD,
    )
    from etl_pipeline_from_mongo_json_to_postgre_spark.operators.similarity import (
        INC_VEC_BATCH_MOD,
        inc_semantic_dedup,
    )
    from etl_pipeline_from_mongo_json_to_postgre_spark.streaming.semantic import (
        stream_semantic_dedup,
    )

    ids = [1, 2, 3]
    assert all((i * KNUTH_MULT % SCRAMBLE_MOD) % INC_VEC_BATCH_MOD != 0
               for i in ids)
    rng = np.random.RandomState(23)
    sf = _write_embeddings(tmp_path, [rng.randn(64) for _ in ids], ids=ids)

    out = stream_semantic_dedup(spark, sf)
    assert out.count() == 0
    assert out.columns == ["vec_id", "is_dup", "canonical_id"]
    assert inc_semantic_dedup(spark, sf).count() == 0


def test_stream_mp_equals_batch_mp_twin(spark, tmp_path):
    """stream_semantic_dedup_mp must equal inc_semantic_dedup_mp
    row-for-row on the same table — the micro-batch decomposition and
    the top-2 fan-out change nothing (r12 task 5)."""
    from etl_pipeline_from_mongo_json_to_postgre_spark.operators.similarity import (
        inc_semantic_dedup_mp,
    )
    from etl_pipeline_from_mongo_json_to_postgre_spark.streaming.semantic import (
        stream_semantic_dedup_mp,
    )

    rng = np.random.RandomState(17)
    vecs = [rng.randn(64) for _ in range(60)]
    sf = _write_embeddings(tmp_path, vecs)

    stream_rows = sorted(stream_semantic_dedup_mp(spark, sf).collect())
    batch_rows = sorted(inc_semantic_dedup_mp(spark, sf).collect())
    assert len(stream_rows) > 0, "the 10% slice must be non-empty"
    assert stream_rows == batch_rows


def test_stream_mp_catches_straddling_arrival(spark, tmp_path):
    """The boundary-miss close-out THROUGH the real streaming engine:
    the planted straddler (arrival's primary != its index near-dup's
    cell, second-best == it; test_degenerate_parity fixture) is missed
    by the single-probe stream and caught by the mp stream."""
    from etl_pipeline_from_mongo_json_to_postgre_spark.functions.sampling import (
        KNUTH_MULT,
        SCRAMBLE_MOD,
    )
    from etl_pipeline_from_mongo_json_to_postgre_spark.operators.similarity import (
        CENTROIDS,
        INC_VEC_BATCH_MOD,
    )
    from etl_pipeline_from_mongo_json_to_postgre_spark.streaming.semantic import (
        stream_semantic_dedup,
        stream_semantic_dedup_mp,
    )

    def bucket(i):
        return (i * KNUTH_MULT % SCRAMBLE_MOD) % INC_VEC_BATCH_MOD

    assert bucket(0) == 0 and all(bucket(i) != 0 for i in (1, 2, 3))
    C = np.array(CENTROIDS)
    e0 = C[0] / np.dot(C[0], C[0])
    e1 = C[1] / np.dot(C[1], C[1])
    vecs = [
        1.1 * e0 + e1,                      # arriving straddler
        e0 + 1.1 * e1,                      # its index near-dup, other cell
        2.0 * C[5] / np.linalg.norm(C[5]),  # far index
        2.0 * C[9] / np.linalg.norm(C[9]),  # far index
    ]
    sf = _write_embeddings(tmp_path, vecs)

    single = {r.vec_id: r for r in stream_semantic_dedup(spark, sf).collect()}
    assert set(single) == {0}
    assert single[0].is_dup is False and single[0].canonical_id == 0

    multi = {r.vec_id: r for r in stream_semantic_dedup_mp(spark, sf).collect()}
    assert set(multi) == {0}
    assert multi[0].is_dup is True and multi[0].canonical_id == 1
