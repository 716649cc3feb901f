"""Trained-quantizer semantic dedup (r12 task 3): the A/B gate that
the committed artifact actually improves on the seeded centroids, plus
structural invariants of the trained entries. Oracle parity is covered
registry-wide by test_oracle_parity.py."""

import json

import pytest
from pyspark.sql import functions as F

from etl_pipeline_from_mongo_json_to_postgre_spark.operators import (
    sem_trained,
    similarity,
)

pytestmark = pytest.mark.skipif(
    sem_trained.SEM_CENTROIDS is None,
    reason="trained_sem_centroids.json missing (run tools/train_sem_centroids.py)",
)


def test_artifact_shape_and_provenance():
    with open(sem_trained._TRAINED_PATH) as fh:
        t = json.load(fh)
    assert t["normalized"] is True
    assert len(t["centroids"]) == t["k"] == 16
    assert all(len(c) == similarity.DIM for c in t["centroids"])
    # trained on normalized vectors -> every centroid sits INSIDE the
    # unit ball (a mean of unit vectors), unlike the seeded ~norm-8
    # gaussian literals — the cheap tripwire that the artifact really
    # came from the normalized trainer
    for c in t["centroids"]:
        assert sum(x * x for x in c) < 1.0


def test_trained_beats_seeded_census(spark, sf_dir):
    """The task-3 close gate: under the trained quantizer the census's
    boundary_share drops MATERIALLY below the seeded 0.628 (r11
    finding), and the top-2 probe window loses no verified pairs at
    the test SF. Measured (sf0.001): seeded 129 pairs / 0.6279 ->
    trained 133 pairs / 0.5639."""
    seeded = similarity.sem_probe_eval(spark, sf_dir).collect()[0]
    trained = sem_trained.sem_probe_eval_trained(spark, sf_dir).collect()[0]
    assert trained["boundary_share"] <= seeded["boundary_share"] - 0.03
    assert trained["n_pairs_multi"] >= seeded["n_pairs_multi"]


def test_trained_dedup_invariants(spark, sf_dir):
    out = sem_trained.dedup_semantic_cells_trained(spark, sf_dir).cache()
    n_vecs = similarity._vectors(spark, sf_dir).count()
    # every vector classified exactly once
    assert out.count() == n_vecs
    assert out.select("vec_id").distinct().count() == n_vecs
    # keep-first: canonical never exceeds the member id; non-dups are
    # their own canonical
    assert out.where(F.col("canonical_id") > F.col("vec_id")).count() == 0
    assert out.where(
        (~F.col("is_duplicate")) & (F.col("canonical_id") != F.col("vec_id"))
    ).count() == 0
    # cells are 1-based and within the trained K
    assert out.where(
        (F.col("cluster_id") < 1)
        | (F.col("cluster_id") > len(sem_trained.SEM_CENTROIDS))
    ).count() == 0
    out.unpersist()


def test_trained_assignment_matches_numpy(spark, sf_dir):
    """Exact-argmin check of the spherical assignment: the engine's
    consolidated HOF score argmax equals a sequential-fold numpy
    recomputation of argmin ||v/||v|| - c||^2 (ties to lowest cell),
    per vector."""
    rows = (
        similarity._vectors(spark, sf_dir)
        .select(
            "vec_id", "v", "nrm",
            sem_trained._scores(F.col("v"), F.col("nrm")).alias("scores"),
        )
        .select(
            "vec_id", "v", "nrm",
            F.array_position("scores", F.array_max("scores")).alias("cell"),
        )
        .collect()
    )

    def seq_dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    half = [sum(x * x for x in c) / 2.0 for c in sem_trained.SEM_CENTROIDS]
    for r in rows:
        vhat = [x / r["nrm"] for x in r["v"]]
        scores = [seq_dot(vhat, c) - h
                  for c, h in zip(sem_trained.SEM_CENTROIDS, half)]
        want = max(range(len(scores)), key=lambda i: (scores[i], -i)) + 1
        assert r["cell"] == want, f"vec {r['vec_id']}"


def test_trained_plans_have_no_cartesian(spark, sf_dir):
    """The candidate bound stays STRUCTURAL under the trained
    quantizer: pair/probe joins key on the probed cell, no cartesian,
    no Python eval nodes (mirrors the r11 mp-family plan pin)."""
    from etl_pipeline_from_mongo_json_to_postgre_spark.storage import (
        physical_plan,
    )

    for fn in (sem_trained.dedup_semantic_cells_trained,
               sem_trained.sem_probe_eval_trained):
        plan = physical_plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "probe_cell" in plan, f"{fn.__name__}: join key missing"
        assert "Python" not in plan, fn.__name__


def test_dropped_artifact_fails_loudly(monkeypatch, tmp_path):
    """A MISSING committed artifact is a dropped file, not bootstrap —
    _load_trained must raise, not silently shrink the registry by two
    entries. The trainer's explicit SPARK_GRAFT_SEM_BOOTSTRAP=1
    opt-out restores the bootstrap behavior (returns None)."""
    monkeypatch.setattr(
        sem_trained, "_TRAINED_PATH", str(tmp_path / "nonexistent.json"))
    monkeypatch.delenv("SPARK_GRAFT_SEM_BOOTSTRAP", raising=False)
    with pytest.raises(RuntimeError, match="dropped"):
        sem_trained._load_trained()
    monkeypatch.setenv("SPARK_GRAFT_SEM_BOOTSTRAP", "1")
    assert sem_trained._load_trained() is None
