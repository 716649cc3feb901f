"""Trained IVFADC acceptance (VERDICT r6 task 3): the planted-structure
fixture, the farthest-first trainer, and the trained index's recall
gate — the piece that converts the untrained-codebook verdict
(similarity.ann_pq_recall_eval, recall ~0.01 by design) into a real
index whose own gate passes."""

import re

import pytest
from pyspark.sql import functions as F

from etl_pipeline_from_mongo_json_to_postgre_spark.operators import ann_trained
from etl_pipeline_from_mongo_json_to_postgre_spark.operators.ann_trained import (
    NB,
    T_TOPK,
    TRAINED_CENTROIDS,
    TRAINED_CODEBOOKS,
    ann_ivf_pq_trained_topk,
    ann_pq_trained_recall,
    planted_vectors,
)


def test_trained_artifact_shape():
    """tools/train_pq_ann.py output must be committed and well-formed:
    16 x 64 coarse centroids, 4 x 8 x 16 PQ codebooks."""
    assert TRAINED_CENTROIDS is not None, "run tools/train_pq_ann.py"
    assert len(TRAINED_CENTROIDS) == NB
    assert all(len(c) == ann_trained.DIM for c in TRAINED_CENTROIDS)
    assert len(TRAINED_CODEBOOKS) == ann_trained.TSUB
    for cb in TRAINED_CODEBOOKS:
        assert len(cb) == ann_trained.TCODES
        assert all(len(c) == ann_trained.TSUBDIM for c in cb)


@pytest.mark.parametrize("content", ['{"centroids": [[0.1, 0.2]], "codeb',
                                     '{"centroids": [[0.1, 0.2]]}', "[]"])
def test_corrupt_artifact_raises_naming_the_path(tmp_path, monkeypatch, content):
    """A truncated or key-less artifact raises naming its path instead of
    silently emptying QUERIES; only a missing file is the bootstrap case."""
    path = tmp_path / "trained_pq_ann.json"
    monkeypatch.setattr(ann_trained, "_TRAINED_PATH", str(path))
    assert ann_trained._load_trained() == (None, None)
    path.write_text(content)
    with pytest.raises(RuntimeError, match=re.escape(str(path))):
        ann_trained._load_trained()


def test_farthest_first_init_picks_one_seed_per_component(spark):
    """Gonzalez init on a separated 3-component mixture must pick one
    seed per component (the k-center guarantee plain sampled init
    lacks) — the property the coarse training relies on."""
    from etl_pipeline_from_mongo_json_to_postgre_spark.operators.kmeans import (
        _init_farthest,
    )

    pts = []
    for i in range(30):
        comp = i % 3
        base = [0.0, 0.0] if comp == 0 else (
            [100.0, 0.0] if comp == 1 else [0.0, 100.0])
        pts.append((i, [base[0] + (i % 7) * 0.1, base[1] + (i % 5) * 0.1]))
    vecs = spark.createDataFrame(pts, "vec_id long, v array<double>")
    seeds = _init_farthest(vecs, 3)
    comps = {(round(s[0] / 50), round(s[1] / 50)) for s in seeds}
    assert len(comps) == 3, f"seeds collapsed onto components: {seeds}"


def test_coarse_fit_is_blob_pure(spark, sf_dir):
    """Every planted blob maps to exactly one trained cell and vice
    versa — farthest-first + separated blobs make Lloyd recover the
    planted partition, which is what keeps IVFADC residuals pure
    pattern (the codebooks' training signal)."""
    from etl_pipeline_from_mongo_json_to_postgre_spark.operators.ann_trained import (
        _coarse_scores,
    )

    vecs = planted_vectors(spark, sf_dir)
    assigned = vecs.select(
        (F.col("vec_id") % NB).alias("blob"),
        F.array_position(
            _coarse_scores(F.col("v")),
            F.array_max(_coarse_scores(F.col("v"))),
        ).alias("cell"),
    )
    pairs = assigned.distinct().collect()
    blobs = {r.blob for r in pairs}
    cells = {r.cell for r in pairs}
    assert len(pairs) == NB, f"blob<->cell not 1:1: {sorted(pairs)}"
    assert len(blobs) == NB and len(cells) == NB


def test_trained_recall_clears_the_gate(spark, sf_dir):
    """The acceptance criterion itself: mean recall@5 of the trained
    IVFADC path vs exact L2 >= 0.7 (measured ~0.99; the untrained
    twin sits at ~0.01)."""
    df = ann_pq_trained_recall(spark, sf_dir)
    rows = df.collect()
    assert rows, "no queries evaluated"
    mean = sum(r.recall for r in rows) / len(rows)
    assert mean >= 0.7, f"trained recall@5 {mean:.3f} below gate"
    for r in rows:
        assert 0 <= r.hits <= T_TOPK
        assert r.recall == r.hits / T_TOPK


def test_trained_topk_plan_and_contract(spark, sf_dir):
    """Ranking contract (dense ranks, sorted adc, no self-matches) and
    the scale-defining plan shape: the probe join is a broadcast hash
    join and the corpus build side carries codes, never vectors."""
    df = ann_ivf_pq_trained_topk(spark, sf_dir)
    rows = df.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert by_q
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        dists = [r.adc_dist for r in rs]
        assert dists == sorted(dists)
        assert all(r.neighbor_id != qid for r in rs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, "probe join must broadcast"
    assert "CartesianProduct" not in plan
    # the stream (corpus) side after the broadcast join projects codes
    after_join = plan.split("BroadcastHashJoin", 1)[1]
    assert "codes" in after_join


def test_streaming_cell_assign_matches_batch(spark, sf_dir, duck):
    """Index maintenance at ingest: the streaming path assigns arriving
    vectors to the SAME trained cells the batch path does — 16 cells,
    counts summing to the corpus, hash-equal to the batch SQL census."""
    from etl_pipeline_from_mongo_json_to_postgre_spark.streaming import doc_chunks
    from tests.oracle_compare import compare

    df = doc_chunks.stream_ann_cell_assign(spark, sf_dir)
    rows = df.collect()
    assert len(rows) == NB
    assert sum(r.n_vecs for r in rows) == planted_vectors(spark, sf_dir).count()
    ok, msg = compare(df, duck, doc_chunks.ORACLE_SQL["stream_ann_cell_assign"])
    assert ok, msg


def test_trained_entries_match_oracle(spark, sf_dir, duck):
    from tests.oracle_compare import compare

    for name, fn in ann_trained.QUERIES.items():
        ok, msg = compare(fn(spark, sf_dir), duck, ann_trained.ORACLE_SQL[name])
        assert ok, f"{name}: {msg}"
