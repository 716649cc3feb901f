"""Trained IVFADC over a planted-structure corpus (VERDICT r6 task 3).

similarity.ann_ivf_pq_topk verifies the ADC *pipeline* with seeded
random codebooks, and its gate ann_pq_recall_eval honestly reports
recall@5 ~ 0.01 on them — the verdict "do not build this index yet".
This module is the other half: the SAME IVFADC layout with a coarse
quantizer and PQ codebooks actually TRAINED (tools/train_pq_ann.py)
by the distributed Lloyd trainer (kmeans.train: farthest-first init,
decimal-deterministic updates), evaluated on a corpus with planted
cluster structure so recall can clear a real threshold — the
acceptance run a production index build performs before flipping
traffic.

Planted fixture (deterministic, identical in Spark and DuckDB, derived
from the embeddings table's vec_id spine so it scales with SF):

    blob c   = vec_id % 16           -> far-apart blob centers (scale 12)
    m        = vec_id div 16
    g_s      = (m div 8^(s-1)) % 8   -> base-8 digits: every vec_id has
                                        a UNIQUE per-subspace pattern
                                        combination (m < 4096 always
                                        holds: max vec_id 1999 at sf0.1)
    v[j]     = blob[j] + pattern[j] + lcg_noise(vec_id, j)  (amp 0.01)

Patterns are zero-mean per subspace at scale 1; noise comes from an
integer LCG so both engines compute bit-identical doubles. Because
blobs are >= 2x-diameter separated, farthest-first k-center init picks
one seed per blob and Lloyd recovers one centroid per blob; because
each within-blob position is a unique pattern-grid site, residual
per-subspace k-means recovers the planted code values, ADC distance
tracks exact distance to noise order, and recall@5 clears the gate
(>= 0.7 asserted in tests/test_ann_trained.py, measured ~1.0).

Reference parity: the reference (a Mongo->Postgres ETL) has no vector
ops; this extends the engine's ANN family with the trained-index
acceptance step that SURVEY.md 'similarity search' scope calls the
scale path.

Scale shape: identical to ann_ivf_pq_topk — assignment and coding are
map-side expressions against broadcast literals; the probe join
carries (vec_id, cell_id, 4 codes) per corpus row, never vectors; at
100 TB the trained literals are exactly what a real index build
broadcasts. Training itself is K passes for init + iters Lloyd rounds
with K*dim-sized driver traffic (see kmeans.py docstring).
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import functions as F

from ..sources.parquet import fan_out, load_table
from .similarity import (
    _duck_fold_sum,
    _duck_list,
    _exact_l2_topk,
    _fold_sum,
    _matrix_dots,
    _matrix_lit,
    _plane_lit,
    adc_topk,
    assign_cells,
    recall_at_k,
)

DIM = 64
NB = 16                 # planted blobs == trained coarse cells
BLOB_SCALE = 12.0
TSUB = 4                # PQ subspaces
TSUBDIM = DIM // TSUB
TCODES = 8              # codes per subspace == planted patterns
T_NPROBE = 4
T_TOPK = 5
T_NQ = 20
# integer LCG noise: both engines compute ((vec_id+1)*MUL + j*ADD) % MOD
# in exact int64, then the same double division -> bit-identical noise
NOISE_MUL = 2654435761
NOISE_ADD = 40503
NOISE_MOD = 9973

_trng = np.random.RandomState(20260815)
BLOBS: list[list[float]] = [
    [float(x) * BLOB_SCALE for x in _trng.randn(DIM)] for _ in range(NB)
]
_praw = [
    [_trng.randn(TSUBDIM) for _ in range(TCODES)] for _ in range(TSUB)
]
# zero-mean per subspace: blob means then sit at the blob centers up to
# truncation edge effects, so trained coarse residuals are pure pattern
PATTERNS: list[list[list[float]]] = [
    [[float(x) for x in (g - np.mean(np.stack(sub), axis=0))] for g in sub]
    for sub in _praw
]

_TRAINED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "trained_pq_ann.json")


def _load_trained():
    """(centroids, codebooks); (None, None) only for a missing file, the
    trainer's bootstrap case. A corrupt file raises, naming the path."""
    try:
        with open(_TRAINED_PATH) as fh:
            t = json.load(fh)
        return t["centroids"], t["codebooks"]
    except FileNotFoundError:
        return None, None
    except (ValueError, KeyError, TypeError) as exc:
        raise RuntimeError(
            f"{_TRAINED_PATH} is corrupt ({exc!r}): restore it from git, or "
            "delete it and re-train via tools/train_pq_ann.py") from None


TRAINED_CENTROIDS, TRAINED_CODEBOOKS = _load_trained()


# ---------------------------------------------------------------------------
# planted fixture
# ---------------------------------------------------------------------------

def _g_expr(s: int):
    """Subspace-s planted pattern digit of vec_id (0-based column)."""
    return F.expr(f"CAST(((vec_id div {NB}) div {TCODES ** s}) % {TCODES} AS INT)")


def planted_v_column():
    """The planted vector as a Column over ANY frame carrying a
    ``vec_id`` column — the ONE definition shared by the batch fixture
    below and the streaming ingest twin
    (streaming/doc_chunks.stream_ann_cell_assign).

    Loop-invariant hoisting (r13, found by the stream_ann_cell_assign
    wall decomposition): higher-order-function lambdas are interpreted
    per ELEMENT, with no hoisting of invariant subexpressions — the
    original ``transform(sequence(1, DIM), j -> blob[j] + pat[j] +
    noise(j))`` re-evaluated the blob lookup (a CreateArray of NB x DIM
    literals) and the pattern concat (TSUB more literal-array lookups)
    64 times per row, ~3 ms/row. Structuring as ``zip_with(blob, pat)``
    then ``zip_with(base, sequence)`` evaluates blob/pat ONCE per row
    as array operands: measured 5.8 s -> 1.04 s for the sf0.1 cell
    census, collected results bit-identical (the float grouping
    (blob[j] + pat[j]) + noise is preserved exactly, so the DuckDB
    oracle text still matches)."""
    blob = F.element_at(
        _matrix_lit(BLOBS),
        (F.col("vec_id") % NB).cast("int") + 1,
    )
    pat = F.concat(*[
        F.element_at(_matrix_lit(PATTERNS[s]), _g_expr(s) + 1)
        for s in range(TSUB)
    ])
    base = F.zip_with(blob, pat, lambda x, y: x + y)
    return F.zip_with(
        base,
        F.sequence(F.lit(1), F.lit(DIM)),
        # noise fully parenthesized ((x/m)*0.02 - 0.01) so the float
        # grouping matches the DuckDB text exactly
        lambda b, j: b
        + (
            (
                ((F.col("vec_id") + 1) * F.lit(NOISE_MUL) + j * NOISE_ADD)
                % NOISE_MOD
            ) / float(NOISE_MOD) * 0.02
            - 0.01
        ),
    )


def planted_vectors(spark, sf_dir):
    """(vec_id, v): the planted-structure corpus on the embeddings
    spine. Column-pruned scan (vec_id only); v is one map-side
    expression — additions parenthesized (blob + pattern) + noise so
    DuckDB mirrors the float order exactly."""
    spine = fan_out(spark, load_table(spark, sf_dir, "embeddings")).select("vec_id")
    return spine.select("vec_id", planted_v_column().alias("v"))


# ---------------------------------------------------------------------------
# trained index: coarse assign -> residual -> PQ codes -> probed ADC search
# ---------------------------------------------------------------------------

def _require_trained():
    if TRAINED_CENTROIDS is None:
        raise RuntimeError(
            "trained_pq_ann.json missing - run tools/train_pq_ann.py")


def _coarse_scores(vcol):
    """argmax of (v.c - |c|^2/2) == argmin of squared L2 — the SAME
    assignment rule kmeans._assign trains with."""
    half = [sum(x * x for x in c) / 2.0 for c in TRAINED_CENTROIDS]
    return F.zip_with(
        _matrix_dots(vcol, TRAINED_CENTROIDS),
        F.array(*[F.lit(h) for h in half]),
        lambda d, h: d - h,
    )


def _sub_sq_dists(rescol, s: int):
    """squared L2 of residual subspace s to each trained code."""
    sub = F.slice(rescol, s * TSUBDIM + 1, TSUBDIM)
    cb = _matrix_lit(TRAINED_CODEBOOKS[s])
    return F.transform(
        cb, lambda c: _fold_sum(F.zip_with(sub, c, lambda x, y: (x - y) * (x - y)))
    )


def _trained_base(spark, sf_dir):
    """(vec_id, v, cell_id, codes) checkpoint — see _trained_parts."""
    return _trained_parts(spark, sf_dir)[0]


def _trained_parts(spark, sf_dir):
    """(base, scores_col): every corpus vector coarse-assigned and
    PQ-coded against the TRAINED literals, checkpointed once (corpus
    candidate side + query side both read it). The 16-double coarse
    score array is bound for the cell argmax and DROPPED before the
    checkpoint (r14): only the T_NQ probe rows ever read scores, and
    they recompute them from the checkpointed v (same literals, same
    fold — bit-identical) instead of materializing nlist doubles per
    corpus row. The constructed scores Column is returned so the probe
    side reuses the expression OBJECT — building the 16x64 literal
    matrix is ~1k py4j round trips of driver time per construction.
    Cells come from the family's one assignment (assign_cells)."""
    _require_trained()
    scores_col = _coarse_scores(F.col("v"))
    base = (
        assign_cells(planted_vectors(spark, sf_dir).select("vec_id", "v"),
                     scores_col)
        .withColumn(
            "res",
            F.zip_with(
                F.col("v"),
                F.element_at(
                    _matrix_lit(TRAINED_CENTROIDS),
                    F.col("cell_id").cast("int"),
                ),
                lambda x, y: x - y,
            ),
        )
        # bind each subspace's 8-code distance array ONCE as a column
        # (r13 optimization round): array_position and array_min both
        # consume it, and HOFs run interpreted with no common-
        # subexpression elimination — inlining _sub_sq_dists in both
        # argument slots evaluated the 8x16-element distance transform
        # TWICE per row (measured: base materialization 8.9 -> 5.5 s at
        # sf0.1, rows bit-identical; the bound column evaluates once)
        .select(
            "vec_id", "v", "cell_id",
            *[_sub_sq_dists(F.col("res"), s).alias(f"_d{s}")
              for s in range(TSUB)],
        )
        .select(
            "vec_id", "v", "cell_id",
            F.array(*[
                F.array_position(
                    F.col(f"_d{s}"), F.array_min(F.col(f"_d{s}"))
                ).cast("int")
                for s in range(TSUB)
            ]).alias("codes"),
        )
        .localCheckpoint(eager=True)
    )
    return base, scores_col


def ann_ivf_pq_trained_topk(spark, sf_dir):
    """IVFADC search with TRAINED coarse centroids + PQ codebooks on
    the planted corpus: canonical per-probed-cell residual LUTs (the
    query recomputes its 4x8 table against each probed cell's
    centroid), candidates scored with 4 table lookups + 3 adds, corpus
    side of the probe join carries only (vec_id, cell_id, codes)."""
    return _topk_from_base(*_trained_parts(spark, sf_dir))


def _topk_from_base(base, scores_col=None):
    from pyspark.sql.window import Window

    cand = base.select("vec_id", "cell_id", "codes")

    cent_lit = _matrix_lit(TRAINED_CENTROIDS)
    qprobe_w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("cid"))
    if scores_col is None:
        scores_col = _coarse_scores(F.col("v"))
    probes = (
        base.where(F.col("vec_id") < T_NQ)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            # recomputed from the checkpointed v for the bounded query
            # rows only (see _trained_parts — bit-identical)
            F.posexplode(scores_col).alias("pos", "score"),
        )
        .withColumn("cid", (F.col("pos") + 1).cast("long"))
        .withColumn("probe_rank", F.row_number().over(qprobe_w))
        .where(F.col("probe_rank") <= T_NPROBE)
        .withColumn(
            "qres",
            F.zip_with(
                F.col("qv"),
                F.element_at(cent_lit, F.col("cid").cast("int")),
                lambda x, y: x - y,
            ),
        )
        .select(
            "query_id",
            F.col("cid").alias("cell_id"),
            F.array(*[_sub_sq_dists(F.col("qres"), s)
                      for s in range(TSUB)]).alias("lut"),
        )
    )
    return adc_topk(probes, cand, TSUB, T_TOPK)


def ann_pq_trained_recall(spark, sf_dir):
    """Recall@5 of the TRAINED IVFADC path vs the exact L2 brute-force
    baseline on the planted corpus — the acceptance gate that
    ann_pq_recall_eval (untrained codebooks, recall ~0.01) exists to
    fail and this trained build exists to pass (>= 0.7 pinned in
    tests/test_ann_trained.py; the driver hash-checks exactness of the
    whole train->index->search->evaluate pipeline).

    The exact baseline and the ADC path share ONE checkpointed base:
    the planted corpus is materialized once, not once per side."""
    base, scores_col = _trained_parts(spark, sf_dir)
    exact = _exact_l2_topk(base.select("vec_id", "v"), T_NQ, T_TOPK)
    pq = _topk_from_base(base, scores_col).select("query_id", "neighbor_id")
    return recall_at_k(pq, exact, T_TOPK)


# ---------------------------------------------------------------------------
# DuckDB oracles — same planted corpus, same trained literals, same folds
# ---------------------------------------------------------------------------

def _duck_planted() -> str:
    """Planted corpus in DuckDB. Literal-matrix indexing happens ONCE
    per row in an inner projection (blob/pat become plain list
    columns); only column indexing runs inside the per-dim lambda —
    indexing a constant matrix inside a lambda re-materializes the
    literal per element and is orders of magnitude slower."""
    p_idx = [
        f"CAST(((vec_id // {NB}) // {TCODES ** s}) % {TCODES} AS INT) + 1"
        for s in range(TSUB)
    ]
    p_lits = [
        "[" + ", ".join(_duck_list(c) for c in PATTERNS[s]) + "]"
        for s in range(TSUB)
    ]
    concat = f"list_concat(list_concat(list_concat(({p_lits[0]})[{p_idx[0]}], " \
             f"({p_lits[1]})[{p_idx[1]}]), ({p_lits[2]})[{p_idx[2]}]), " \
             f"({p_lits[3]})[{p_idx[3]}])"
    blobs = "[" + ", ".join(_duck_list(b) for b in BLOBS) + "]"
    noise = (f"(CAST(((vec_id + 1) * {NOISE_MUL} + j * {NOISE_ADD}) "
             f"% {NOISE_MOD} AS BIGINT) / {float(NOISE_MOD)!r} * 0.02 - 0.01)")
    return f"""
        SELECT vec_id, list_transform(range(1, {DIM} + 1), j ->
            ((blob[j] + pat[j]) + {noise})) AS v
        FROM (
            SELECT vec_id,
                   ({blobs})[CAST(vec_id % {NB} AS INT) + 1] AS blob,
                   {concat} AS pat
            FROM embeddings
        )
    """


def _duck_trained_sql() -> dict[str, str]:
    """Oracle builders. Discipline (learned from a 100x slowdown):
    never index a literal MATRIX inside a lambda — unroll per-centroid/
    per-code flat literals into explicit list expressions (the
    _DUCK_CENT_DOTS / _duck_pq_dist pattern) and materialize reused
    list expressions as columns in an inner projection."""
    half = [sum(x * x for x in c) / 2.0 for c in TRAINED_CENTROIDS]
    cents = "[" + ", ".join(_duck_list(c) for c in TRAINED_CENTROIDS) + "]"

    def duck_dot(a: str, b: str) -> str:
        return _duck_fold_sum(
            f"list_transform(range(1, {DIM} + 1), d -> ({a})[d] * ({b})[d])")

    # one explicit (dot - halfnorm) per trained centroid, flat literals
    scores = "[" + ", ".join(
        f"({duck_dot('v', _duck_list(c))}) - {half[i]!r}"
        for i, c in enumerate(TRAINED_CENTROIDS)
    ) + "]"

    def sub_dists(res: str, s: int) -> str:
        """explicit 8-element list: squared L2 of residual subspace s
        to each flat code literal (the _duck_pq_dist pattern)."""
        off = s * TSUBDIM
        outs = []
        for code in TRAINED_CODEBOOKS[s]:
            cl = _duck_list(code)
            outs.append(_duck_fold_sum(
                f"list_transform(range(1, {TSUBDIM} + 1), d -> "
                f"(({res})[{off} + d] - ({cl})[d]) * "
                f"(({res})[{off} + d] - ({cl})[d]))"))
        return "[" + ", ".join(outs) + "]"

    res = (f"list_transform(range(1, {DIM} + 1), j -> v[j] - cc[j])")
    codes = "[" + ", ".join(
        f"CAST(list_position(dists[{s + 1}], list_min(dists[{s + 1}])) AS INT)"
        for s in range(TSUB)
    ) + "]"
    dists = "[" + ", ".join(sub_dists("res", s) for s in range(TSUB)) + "]"
    lut = "[" + ", ".join(sub_dists("qres", s) for s in range(TSUB)) + "]"
    adc = "((p.lut[1][t.codes[1]] + p.lut[2][t.codes[2]])" \
          " + p.lut[3][t.codes[3]]) + p.lut[4][t.codes[4]]"

    topk = f"""
        WITH planted AS ({_duck_planted()}),
        assigned AS (
            SELECT vec_id, v, scores,
                   CAST(list_position(scores, list_max(scores)) AS BIGINT)
                       AS cell
            FROM (SELECT vec_id, v, {scores} AS scores FROM planted)
        ), coded AS (
            SELECT vec_id, cell, {codes} AS codes FROM (
                SELECT vec_id, cell, {dists} AS dists FROM (
                    SELECT vec_id, cell, {res} AS res FROM (
                        SELECT vec_id, v, cell,
                               ({cents})[cell] AS cc
                        FROM assigned
                    )
                )
            )
        ), probes AS (
            SELECT query_id, cell, {lut} AS lut FROM (
                SELECT query_id, cell, {res} AS qres FROM (
                    SELECT query_id, v, cell, ({cents})[cell] AS cc FROM (
                        SELECT a.vec_id AS query_id, a.v AS v, idx.i AS cell,
                               row_number() OVER (
                                   PARTITION BY a.vec_id
                                   ORDER BY a.scores[idx.i] DESC, idx.i) AS pr
                        FROM assigned a,
                             (SELECT unnest(range(1, {NB} + 1)) AS i) idx
                        WHERE a.vec_id < {T_NQ}
                    ) WHERE pr <= {T_NPROBE}
                )
            )
        ), scored AS (
            SELECT p.query_id, t.vec_id AS neighbor_id, {adc} AS adc
            FROM probes p JOIN coded t ON t.cell = p.cell
            WHERE t.vec_id <> p.query_id
        )
        SELECT query_id, neighbor_id, rank, round(adc, 6) AS adc_dist FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY adc ASC, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= {T_TOPK}
    """

    l2 = _duck_fold_sum(
        f"list_transform(range(1, {DIM} + 1), "
        f"i -> (q.v[i] - t.v[i]) * (q.v[i] - t.v[i]))")
    recall = f"""
        WITH planted2 AS ({_duck_planted()}),
        exact_l2 AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {l2} ASC, t.vec_id) AS rank
                FROM planted2 q JOIN planted2 t ON t.vec_id <> q.vec_id
                WHERE q.vec_id < {T_NQ}
            ) WHERE rank <= {T_TOPK}
        ), pq_hits AS ({topk}),
        hitcnt AS (
            SELECT p.query_id, count(*) AS hits
            FROM pq_hits p JOIN exact_l2 e
              ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id
            GROUP BY 1
        )
        SELECT q.query_id, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
               CAST(CAST(COALESCE(h.hits, 0) AS BIGINT) AS DOUBLE)
                   / {float(T_TOPK)} AS recall
        FROM (SELECT DISTINCT query_id FROM exact_l2) q
        LEFT JOIN hitcnt h ON h.query_id = q.query_id
    """
    return {"ann_ivf_pq_trained_topk": topk, "ann_pq_trained_recall": recall}


if TRAINED_CENTROIDS is not None:
    QUERIES = {
        "ann_ivf_pq_trained_topk": ann_ivf_pq_trained_topk,
        "ann_pq_trained_recall": ann_pq_trained_recall,
    }
    ORACLE_SQL = _duck_trained_sql()
else:  # bootstrap: tools/train_pq_ann.py imports the fixture before
    QUERIES = {}   # the trained artifact exists
    ORACLE_SQL = {}
