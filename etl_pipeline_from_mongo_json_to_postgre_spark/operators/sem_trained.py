"""Semantic dedup under a TRAINED coarse quantizer (VERDICT r12
task 3).

The r10/r11 semantic family (similarity.dedup_semantic_cells*,
inc_semantic_dedup*) quantizes with FIXED seeded centroids —
similarity.CENTROIDS stands in for a k-means fit exactly as in
ann_ivf_topk. sem_probe_eval then measured the cost of that stand-in:
boundary_share = 0.628 of verified near-dup pairs straddle cells, the
SemDeDup miss class (Abbas et al. 2023, arXiv:2303.09540) that top-2
multi-probe masks at 2x candidate cost. This module acts on the
census's own finding, following the ann_trained precedent: the
quantizer is TRAINED offline (tools/train_sem_centroids.py —
kmeans.train on the L2-normalized embeddings, spherical k-means) and
the trained literals are committed as the model artifact
(trained_sem_centroids.json) that queries broadcast.

Measured effect of the committed sf0.1-trained artifact
(sem_probe_eval vs sem_probe_eval_trained, r12): boundary_share
0.628 -> 0.564 at sf0.001, 0.688 -> 0.598 at sf0.01, 0.645 -> 0.566
at sf0.1 — a ~0.07-0.09 absolute reduction at every SF, with the
probe window reaching MORE verified pairs at the train-scale corpus
(2078 -> 2397 at sf0.1; the trained Voronoi cells are balanced, so
probing two covers more of each vector's true neighborhood). The
residual ~0.56 floor is inherent to this corpus: cos >= 0.35 pairs
are ~69 degrees apart — wide relative to any 16-cell partition of a
64-dim sphere — which is exactly why the entries keep multi-probe ON
TOP of the trained quantizer instead of replacing it.

Assignment rule: vectors are normalized (v̂ = v / ||v||) and scored
by v̂·c − |c|²/2 (_scores), whose argmax == argmin ||v̂ − c||² — the
SAME rule the trainer fits with (kmeans._assign), which on normalized
inputs is spherical k-means assignment. Only the scores are this
module's: cell assignment, pairing, verification, keep-first and the
census are the similarity family's steps (assign_cells,
_near_dup_pairs, _semantic_dedup, _probe_census), so the tie rule
(score DESC, cell ASC) and the oracles' rank-window derivation are
the seeded entries' own.

Reference parity: the reference (a Mongo->Postgres ETL) has no vector
ops; this completes SURVEY.md's semantic-dedup scale path with the
train->quantize->probe->verify acceptance pipeline a production
SemDeDup deployment runs.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from .similarity import (
    _DUCK_NORM,
    _DUCK_V,
    NEAR_DUP_THRESHOLD,
    SEM_PROBES,
    _duck_dot,
    _duck_list,
    _matrix_dots,
    _probe_census,
    _semantic_dedup,
    _vectors,
    assign_cells,
)

_TRAINED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "trained_sem_centroids.json")


def _load_trained():
    """A corrupted/truncated committed artifact raises loudly, and so
    does a missing one: swallowing either would silently deregister
    both trained entries and every suite would stay green with the
    registry two entries short. Only the trainer's genuine first run
    opts out, via SPARK_GRAFT_SEM_BOOTSTRAP=1 (returns None)."""
    try:
        with open(_TRAINED_PATH) as fh:
            t = json.load(fh)
    except FileNotFoundError:
        if os.environ.get("SPARK_GRAFT_SEM_BOOTSTRAP") == "1":
            return None
        raise RuntimeError(
            f"{_TRAINED_PATH} is missing — the committed artifact was "
            "dropped. Restore it from git, or re-train via "
            "tools/train_sem_centroids.py (which sets "
            "SPARK_GRAFT_SEM_BOOTSTRAP=1).") from None
    return t["centroids"]


SEM_CENTROIDS = _load_trained()


def _require_trained():
    if SEM_CENTROIDS is None:
        raise RuntimeError(
            "trained_sem_centroids.json missing - run "
            "tools/train_sem_centroids.py")


def _scores(vcol, nrmcol):
    """Per-cell assignment scores of the NORMALIZED vector against the
    trained centroids: dot(v̂, c) − |c|²/2 (argmax == nearest-L2 ==
    spherical k-means assignment), one consolidated HOF expression."""
    half = [sum(x * x for x in c) / 2.0 for c in SEM_CENTROIDS]
    vhat = F.transform(vcol, lambda x: x / nrmcol)
    return F.zip_with(
        _matrix_dots(vhat, SEM_CENTROIDS),
        F.array(*[F.lit(h) for h in half]),
        lambda d, h: d - h,
    )


def _assigned(spark, sf_dir):
    """Every vector assigned to its primary and second-best TRAINED
    cells (assign_cells over _scores, multi-probe), checkpointed once
    (probe and both verify sides read it)."""
    _require_trained()
    return assign_cells(
        _vectors(spark, sf_dir), _scores(F.col("v"), F.col("nrm")),
        multi_probe=True,
    ).localCheckpoint(eager=True)


def dedup_semantic_cells_trained(spark, sf_dir):
    """The full production SemDeDup recipe: TRAINED quantizer + top-2
    multi-probe + exact-cosine verify + keep-first canonical — the
    similarity family's steps (_semantic_dedup) over _assigned. Same
    output schema as dedup_semantic_cells (vec_id, cluster_id = the
    PRIMARY trained cell, canonical_id, is_duplicate)."""
    return _semantic_dedup(_assigned(spark, sf_dir))


def sem_probe_eval_trained(spark, sf_dir):
    """sem_probe_eval re-run under the TRAINED quantizer
    (_probe_census over _assigned) — the census that closes r12 task
    3's loop: of all verified near-dup pairs reachable under trained
    top-2 probing, how many share a primary cell (single-probe would
    catch them) vs straddle a boundary? Pinned against the seeded
    census in tests/test_sem_trained.py: trained boundary_share
    strictly below seeded AND the trained probe window reaches at
    least as many verified pairs."""
    return _probe_census(_assigned(spark, sf_dir))


# ---------------------------------------------------------------------------
# DuckDB oracles — same trained literals, same folds, same rank rule
# ---------------------------------------------------------------------------

def _duck_trained_sql() -> dict[str, str]:
    k = len(SEM_CENTROIDS)
    half = [sum(x * x for x in c) / 2.0 for c in SEM_CENTROIDS]
    # one explicit (dot(vhat, c) - halfnorm) per trained centroid, flat
    # literals (never index a literal matrix inside a lambda — the
    # ann_trained 100x lesson)
    scores = "[" + ", ".join(
        f"({_duck_dot('vhat', _duck_list(c))}) - {half[i]!r}"
        for i, c in enumerate(SEM_CENTROIDS)
    ) + "]"
    assigned = f"""
        WITH vecs AS (
            SELECT vec_id, v, nrm,
                   list_transform(v, x -> x / nrm) AS vhat
            FROM (SELECT vec_id, {_DUCK_V} AS v, {_DUCK_NORM} AS nrm
                  FROM embeddings)
        ), assigned AS (
            SELECT vec_id, v, nrm, scores,
                   CAST(list_position(scores, list_max(scores)) AS BIGINT)
                       AS prim
            FROM (SELECT vec_id, v, nrm, {scores} AS scores FROM vecs)
        ), probes AS (
            -- rank rule (score DESC, cell ASC) == Spark mask-then-argmax
            SELECT vec_id, prim, CAST(ci AS BIGINT) AS probe_cell FROM (
                SELECT vec_id, prim, ci, row_number() OVER (
                    PARTITION BY vec_id
                    ORDER BY scores[ci] DESC, ci ASC) AS rk
                FROM (SELECT vec_id, prim, scores,
                             unnest(range(1, {k} + 1)) AS ci
                      FROM assigned)
            ) WHERE rk <= {SEM_PROBES}
        )
    """
    dedup = assigned + f"""
        , cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM probes a JOIN probes b
              ON a.probe_cell = b.probe_cell AND a.vec_id < b.vec_id
        ), pairs AS (
            SELECT vec_a, vec_b
            FROM cand
            JOIN assigned x ON x.vec_id = vec_a
            JOIN assigned y ON y.vec_id = vec_b
            WHERE round({_duck_dot('x.v', 'y.v')} / (x.nrm * y.nrm), 6)
                  >= {NEAR_DUP_THRESHOLD}
        ), pm AS (
            SELECT vec_b AS vec_id, MIN(vec_a) AS min_partner
            FROM pairs GROUP BY vec_b
        )
        SELECT a.vec_id, a.prim AS cluster_id,
               least(a.vec_id, coalesce(pm.min_partner, a.vec_id))
                   AS canonical_id,
               least(a.vec_id, coalesce(pm.min_partner, a.vec_id))
                   <> a.vec_id AS is_duplicate
        FROM assigned a LEFT JOIN pm ON pm.vec_id = a.vec_id
    """
    eval_sql = assigned + f"""
        , cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   a.prim = b.prim AS same_primary
            FROM probes a JOIN probes b
              ON a.probe_cell = b.probe_cell AND a.vec_id < b.vec_id
        ), verified AS (
            SELECT same_primary
            FROM cand
            JOIN assigned x ON x.vec_id = vec_a
            JOIN assigned y ON y.vec_id = vec_b
            WHERE round({_duck_dot('x.v', 'y.v')} / (x.nrm * y.nrm), 6)
                  >= {NEAR_DUP_THRESHOLD}
        )
        SELECT CAST(count(*) AS BIGINT) AS n_pairs_multi,
               CAST(sum(CASE WHEN same_primary THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_pairs_single,
               CAST(count(*) - sum(CASE WHEN same_primary THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_boundary_pairs,
               CASE WHEN count(*) > 0 THEN
                   round(CAST(count(*) - sum(CASE WHEN same_primary
                                             THEN 1 ELSE 0 END) AS DOUBLE)
                         / count(*), 6)
               END AS boundary_share
        FROM verified
    """
    return {
        "dedup_semantic_cells_trained": dedup,
        "sem_probe_eval_trained": eval_sql,
    }


if SEM_CENTROIDS is not None:
    QUERIES = {
        "dedup_semantic_cells_trained": dedup_semantic_cells_trained,
        "sem_probe_eval_trained": sem_probe_eval_trained,
    }
    ORACLE_SQL = _duck_trained_sql()
else:  # bootstrap: tools/train_sem_centroids.py imports this module
    QUERIES = {}   # before the trained artifact exists
    ORACLE_SQL = {}
