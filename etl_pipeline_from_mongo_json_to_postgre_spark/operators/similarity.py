"""Similarity search over the embeddings table (array<float>, dim 64).

- ann_cosine_topk: brute-force top-k for a bounded query set — the
  correctness baseline. The query side is broadcast; the big side
  streams once. At 100 TB you bound the query batch, not the corpus.
- sim_cosine_pairs_lsh: random-hyperplane LSH (4 bands x 8 bits)
  candidate generation + exact cosine verify — the scale path for
  all-pairs similarity (explode band keys, equi-join, never n^2).
  Band width matters: b bits -> 2^b buckets per band; too few bits
  makes every pair a candidate (quadratic blowup disguised as LSH).
  The self-join carries ONLY (band, key, vec_id) — vectors are
  re-attached to the deduped pair list by joining the (small) vector
  frame back, so the bucket-join shuffle is keys-only.

Determinism: hyperplanes are fixed literals (seeded numpy, embedded in
both the Spark plan and the DuckDB oracle); all dot products are
sequential left-folds over doubles in both engines, so cosines are
bit-identical and thresholds/rankings agree exactly.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from ..functions.sampling import scrambled_bucket, scrambled_bucket_sql
from ..sources.parquet import fan_out, load_table

DIM = 64
N_BANDS = 4
BITS_PER_BAND = 8
PAIR_THRESHOLD = 0.30
TOPK = 5
N_QUERIES = 20
NEAR_DUP_THRESHOLD = 0.35
N_CENTROIDS = 16
N_PROBE = 4

_rng = np.random.RandomState(42)
HYPERPLANES: list[list[float]] = [
    [float(x) for x in _rng.randn(DIM)] for _ in range(N_BANDS * BITS_PER_BAND)
]
# IVF coarse quantizer: fixed seeded centroids (at 100 TB these come from a
# sampled k-means fit, broadcast as literals exactly like this).
CENTROIDS: list[list[float]] = [
    [float(x) for x in _rng.randn(DIM)] for _ in range(N_CENTROIDS)
]


def _emb_d(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _fold_sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def _dot(a: Column, b: Column) -> Column:
    return _fold_sum(F.zip_with(a, b, lambda x, y: x * y))


def _plane_sql(plane: list[float]) -> str:
    """SQL text of one literal double array. Spark SQL has no literal
    for nan/inf (repr would render `nanD`, which fails later as an
    opaque ParseException or unresolved column), so a non-finite value
    raises here, naming the value."""
    for v in plane:
        if not math.isfinite(v):
            raise ValueError(
                f"literal plane holds non-finite value {v!r}; only finite "
                "doubles can be rendered as Spark SQL literals")
    return "array(" + ", ".join(f"{v!r}D" for v in plane) + ")"


def _plane_lit(plane: list[float]) -> Column:
    """Literal double array as ONE F.expr parse (r14): the previous
    per-element form cost one py4j round trip per F.lit — ~0.45 s of
    pure DRIVER time per 64-float plane matrix construction, re-paid on
    every query invocation (measured: the 32x64 hyperplane matrix took
    2.35 s to construct element-wise vs 0.009 s as one parsed
    expression). repr() is the shortest round-trip float form and
    Spark's double parser reproduces it bit-exactly — the same
    contract the DuckDB oracles' _duck_list(repr) already relies on."""
    return F.expr(_plane_sql(plane))


def _matrix_lit(planes: list[list[float]]) -> Column:
    """Literal matrix (array<array<double>>) as ONE F.expr parse — see
    _plane_lit for the driver-time rationale."""
    return F.expr("array(" + ", ".join(_plane_sql(p) for p in planes) + ")")


def _matrix_dots(vcol: Column, planes: list[list[float]]) -> Column:
    """All plane·v dot products as ONE array expression: a single
    transform over a literal plane matrix. One HOF evaluation per row
    instead of len(planes) separate fold trees — HOFs don't
    participate in whole-stage codegen, so per-expression interpretive
    overhead dominates and consolidating them measured 4-5x faster
    than 32 independent folds (same math, bit-identical results)."""
    matrix = _matrix_lit(planes)
    return F.transform(
        matrix, lambda p: _fold_sum(F.zip_with(vcol, p, lambda x, y: x * y))
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_fold_sum(F.transform(a, lambda x: x * x)))


def _vectors(spark, sf_dir, *extra_cols: str):
    """(vec_id[, *extra_cols], v, nrm) — the family's one embedding
    projection; every entry goes through here so the cast/norm/fan-out
    discipline (and thus oracle bit-exactness) stays in one place."""
    # fan_out: the single-row-group scan would otherwise run EVERY
    # hyperplane dot product in one task (measured: the whole LSH
    # pipeline single-threaded at sf0.1)
    e = fan_out(spark, load_table(spark, sf_dir, "embeddings"))
    return e.select(
        "vec_id",
        *extra_cols,
        _emb_d(F.col("embedding")).alias("v"),
        _norm(_emb_d(F.col("embedding"))).alias("nrm"),
    )


# ---------------------------------------------------------------------------
# The family's steps: how a vector is assigned to cells, paired, verified
# and scored. Every entry below composes these; none keeps its own copy.
# ---------------------------------------------------------------------------

# Multi-probe width. STRUCTURALLY PINNED to 2 on the Spark side: the
# engine derives the probe set by mask-then-argmax (_top2_cells), which
# yields exactly one extra cell; only the oracles' `rk <= SEM_PROBES`
# is numeric. Widening to 3+ requires replacing _top2_cells with a
# rank-k derivation IN THE SAME HELPER so engine and oracle move
# together (r11 review finding).
SEM_PROBES = 2
if SEM_PROBES != 2:  # explicit raise: an assert is stripped under -O (ADVICE r11)
    raise ValueError(
        "engine probe derivation (_top2_cells) is pinned to 2; widening "
        "requires a rank-k derivation shared by engine and oracles")


def _primary_cell(dots: Column) -> Column:
    """1-based argmax cell under the shared tie rule: FIRST occurrence
    of the max (== smallest cell index among ties) — the single source
    of the coarse-quantizer assignment (see assign_cells)."""
    return F.array_position(dots, F.array_max(dots))


def _top2_cells(dots: Column, primary: Column) -> Column:
    """1-based SECOND-best cell: mask the primary slot to -inf, argmax
    again. Equivalent to rank 2 under (dot DESC, cell ASC) for every
    tie layout, because array_position always returns the FIRST
    occurrence of the max — the one place the engine's top-2 rule
    lives; the oracles replicate it as a rank-rule window."""
    masked = F.transform(
        dots,
        lambda x, i: F.when((i + 1) == primary, F.lit(float("-inf")))
        .otherwise(x),
    )
    return F.array_position(masked, F.array_max(masked))


def assign_cells(vecs: DataFrame, scores: Column | None = None,
                 multi_probe: bool = False) -> DataFrame:
    """Cell assignment, the one implementation: ``vecs`` plus bigint
    ``cell_id``, the argmax of the per-cell ``scores`` array under the
    shared tie rule (_primary_cell), and under ``multi_probe`` the
    second-best ``cell2`` (_top2_cells). ``scores`` defaults to the
    dots against the seeded CENTROIDS (a map-side expression over
    broadcast literals, no shuffle); sem_trained passes its trained
    scores. The score array is bound once as a column — the argmax
    reads it twice and interpreted HOFs get no common-subexpression
    elimination — and dropped from the result."""
    if scores is None:
        scores = _matrix_dots(F.col("v"), CENTROIDS)
    out = vecs.withColumn("scores", scores).withColumn(
        "cell_id", _primary_cell(F.col("scores")))
    if multi_probe:
        out = out.withColumn(
            "cell2", _top2_cells(F.col("scores"), F.col("cell_id")))
    return out.drop("scores")


def _probe_cells(df: DataFrame) -> Column:
    """The cells a row probes: its ``cell_id``, and also its ``cell2``
    when assign_cells ran multi-probe (then one row per probed cell)."""
    if "cell2" in df.columns:
        return F.explode(F.array(F.col("cell_id"), F.col("cell2")))
    return F.col("cell_id")


def _near_dup_pairs(assigned: DataFrame, *pair_cols: Column) -> DataFrame:
    """Corpus near-dup verification over an assign_cells frame:
    (vec_a < vec_b) ID pairs that share a probed cell, made distinct
    under multi-probe (a pair sharing both probed cells must score
    once), then the vectors rejoin for the exact check cos >=
    NEAR_DUP_THRESHOLD. The quadratic-per-cell self-join moves
    (cell, vec_id) ID rows only. Output: vec_a, vec_b and ``pair_cols``,
    which read the two probe rows as ``a.`` / ``b.`` (vec_id, cell_id).
    A pair is a candidate only inside a probed cell, so a cross-cell
    pair is unrepresentable in the plan (the SemDeDup miss class)."""
    probes = assigned.select(
        "vec_id", "cell_id", _probe_cells(assigned).alias("probe_cell"))
    a, b = probes.alias("a"), probes.alias("b")
    cand = (
        a.join(b, "probe_cell")
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            *pair_cols,
        )
    )
    if "cell2" in assigned.columns:
        cand = cand.distinct()
    x = assigned.select(F.col("vec_id").alias("vec_a"),
                        F.col("v").alias("va"), F.col("nrm").alias("na"))
    y = assigned.select(F.col("vec_id").alias("vec_b"),
                        F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(x, "vec_a").join(y, "vec_b")
        .where(F.round(cos, 6) >= NEAR_DUP_THRESHOLD)
        .select(*cand.columns)
    )


def _keep_first(ids: DataFrame, pairs: DataFrame) -> DataFrame:
    """Single-hop keep-first canonical over verified (vec_a < vec_b)
    pairs: each row of ``ids`` gets the smallest vec_id among itself
    and its partners — the reference's keep-first dedup semantics
    (postgres_audit_repository.py:68-70). Output: ids' columns +
    canonical_id, is_duplicate."""
    partner_min = pairs.groupBy(F.col("vec_b").alias("vec_id")).agg(
        F.min("vec_a").alias("min_partner")
    )
    return (
        ids.join(partner_min, "vec_id", "left")
        .select(
            *ids.columns,
            F.least(
                F.col("vec_id"),
                F.coalesce(F.col("min_partner"), F.col("vec_id")),
            ).alias("canonical_id"),
        )
        .withColumn("is_duplicate", F.col("canonical_id") != F.col("vec_id"))
    )


def _semantic_dedup(assigned: DataFrame) -> DataFrame:
    """Keep-first dedup over an assign_cells frame's verified pairs.
    Output: (vec_id, cluster_id = the PRIMARY cell, canonical_id,
    is_duplicate)."""
    return _keep_first(
        assigned.select("vec_id", F.col("cell_id").alias("cluster_id")),
        _near_dup_pairs(assigned),
    )


def _probe_census(assigned: DataFrame) -> DataFrame:
    """Of the verified pairs a multi-probe assign_cells frame reaches,
    how many share a primary cell (single-probe would catch them) and
    how many straddle a boundary — one 1-row aggregate on top of the
    verification step, so no second pipeline runs."""
    verified = _near_dup_pairs(
        assigned,
        (F.col("a.cell_id") == F.col("b.cell_id")).alias("same_primary"),
    ).select("same_primary")
    n_multi = F.count("*")
    n_single = F.sum(F.col("same_primary").cast("bigint"))
    return verified.agg(
        n_multi.alias("n_pairs_multi"),
        n_single.alias("n_pairs_single"),
        (n_multi - n_single).alias("n_boundary_pairs"),
        F.when(
            n_multi > 0,
            F.round((n_multi - n_single).cast("double") / n_multi, 6),
        ).alias("boundary_share"),
    )


def split_arrivals(assigned: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(arriving batch, index) of an assign_cells frame: the batch is
    the deterministic 10% slice via scrambled_bucket — the two-stage
    scramble, because scrambled_key's single multiply is the IDENTITY
    mod 10 (KNUTH_MULT ≡ 1 mod 10, r10 review) and an id-periodic
    corpus would bias a plain stride slice. The index side is
    (cell_id, idx_id, iv, inrm), the shape classify_semantic_batch
    joins against."""
    is_batch = scrambled_bucket(F.col("vec_id"), INC_VEC_BATCH_MOD) == 0
    index = assigned.where(~is_batch).select(
        "cell_id",
        F.col("vec_id").alias("idx_id"),
        F.col("v").alias("iv"), F.col("nrm").alias("inrm"),
    )
    return assigned.where(is_batch), index


def classify_semantic_batch(batch_df: DataFrame,
                            index_df: DataFrame) -> DataFrame:
    """Batch-against-index classify: each arriving vector probes its
    cells (both, under multi-probe — the textbook multi-probe IVF
    shape: index vectors stay in their single primary cell, only
    queries fan out), candidates join BATCH x INDEX on cell_id only —
    never index x index, so per-batch cost is |batch| x probed-cell
    occupancy, and an index vector lives in ONE cell so no candidate
    pair is generated twice (MIN needs no distinct). Exact-cosine
    verify at NEAR_DUP_THRESHOLD; keep-first canonical = min matching
    index id, the index always winning over the arrival. batch_df:
    (vec_id, v, nrm, cell_id[, cell2]); index_df: split_arrivals'
    index side. Output: (vec_id, is_dup, canonical_id)."""
    probes = batch_df.select(
        "vec_id",
        F.col("v").alias("bv"), F.col("nrm").alias("bn"),
        _probe_cells(batch_df).alias("cell_id"),
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


def _batch_hard(pairs: DataFrame, keys: tuple[str, ...] = (),
                anchors: DataFrame | None = None) -> DataFrame:
    """Batch-hard triplet extremes (FaceNet, Schroff CVPR'15) over
    (anchor, candidate) rows — an _anchor_side frame joined to the
    corpus: per anchor, the HARDEST positive (same label, LOWEST
    cosine) and HARDEST negative (other label, HIGHEST cosine), plus
    the margin pos_cos - neg_cos. Both extremes are min/max over
    (cos, id) structs, so scoring partial-aggregates map-side and the
    one Exchange carries |anchors| partially-combined rows, never the
    scored set. Ties break to the lowest vec_id on both sides; NULL
    extremes surface instead of dropping the anchor. With ``anchors``
    (rows of anchor_id, anchor_label, *keys) every one of them keeps a
    row, NULLs when it has no pairs at all."""
    cos = _dot(F.col("av"), F.col("v")) / (F.col("an") * F.col("nrm"))
    scored = pairs.where(F.col("vec_id") != F.col("anchor_id")).select(
        *keys,
        "anchor_id",
        "anchor_label",
        "vec_id",
        cos.alias("cos"),
        (F.col("label") == F.col("anchor_label")).alias("same"),
    )
    # min(struct) / max(struct): lexicographic, so cos decides first and
    # the id field breaks ties; NULL branches are ignored by min/max, so
    # each side partial-aggregates map-side (no window, no big shuffle).
    pos = F.min(
        F.when(
            F.col("same"),
            F.struct(F.col("cos").alias("c"), F.col("vec_id").alias("id")),
        )
    ).alias("pos")
    neg = F.max(
        F.when(
            ~F.col("same"),
            F.struct(
                F.col("cos").alias("c"),
                (-F.col("vec_id")).alias("nid"),
                F.col("vec_id").alias("id"),
            ),
        )
    ).alias("neg")
    mined = (
        scored.groupBy(*keys, "anchor_id", "anchor_label")
        .agg(pos, neg)
        .select(
            "anchor_id",
            "anchor_label",
            *keys,
            F.col("pos.id").alias("pos_id"),
            F.col("neg.id").alias("neg_id"),
            F.round("pos.c", 6).alias("pos_cos"),
            F.round("neg.c", 6).alias("neg_cos"),
            F.round(F.col("pos.c") - F.col("neg.c"), 6).alias("margin"),
        )
    )
    if anchors is None:
        return mined
    return anchors.select("anchor_id", "anchor_label", *keys).join(
        mined, ["anchor_id", "anchor_label", *keys], "left")


def _anchor_side(vecs: DataFrame, *keys: str) -> DataFrame:
    """(*keys, anchor_id, anchor_label, av, an): the anchor columns
    _batch_hard scores against the corpus side's (vec_id, label, v,
    nrm)."""
    return vecs.select(
        *keys,
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("v").alias("av"),
        F.col("nrm").alias("an"),
    )


def _exact_l2_topk(vecs: DataFrame, n_queries: int, k: int) -> DataFrame:
    """Exact squared-L2 top-k (query_id, neighbor_id) for vec_id <
    n_queries: the brute-force recall baseline (broadcast queries,
    corpus streamed once; rank d2 ASC, neighbor_id ASC). vecs: (vec_id,
    v, ...)."""
    from pyspark.sql.window import Window

    queries = vecs.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    l2 = _fold_sum(F.zip_with(F.col("qv"), F.col("v"),
                              lambda x, y: (x - y) * (x - y)))
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
    return (
        F.broadcast(queries).crossJoin(vecs)
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                l2.alias("d2"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
    )


def recall_at_k(approx: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """Recall@k per query of an approximate (query_id, neighbor_id)
    top-k against the exact one: (query_id, hits, recall = hits / k).
    Both inputs are queries x k rows, so the overlap join and count
    never touch the corpus; a query with no hit keeps a 0 row."""
    hitcnt = (
        approx.join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("hits"))
    )
    qids = exact.select("query_id").distinct()
    return (
        qids.join(hitcnt, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("hits", F.lit(0).cast("bigint")).alias("hits"),
            (
                F.coalesce("hits", F.lit(0).cast("bigint")).cast("double")
                / F.lit(float(k))
            ).alias("recall"),
        )
    )


# Hard bound on the brute-force query batch: the crossJoin below is
# O(|queries| x |corpus|) BY DESIGN (exact-recall baseline; the pruned
# scale path is ann_ivf_topk). The guard keeps anyone from pointing the
# exact path at a full corpus — at that point the broadcast would OOM
# long after the cost already blew up.
MAX_BRUTE_FORCE_QUERIES = 10_000


def ann_cosine_topk(spark, sf_dir, n_queries: int = N_QUERIES):
    """Top-5 cosine neighbors for vec_id < n_queries (brute force,
    broadcast query side). Rank by exact cosine desc, vec_id asc.

    Exact-recall BASELINE, deliberately O(|queries| x |corpus|): the
    query side must stay small enough to broadcast (<= MAX_BRUTE_FORCE_
    QUERIES). For corpus-scale workloads use ann_ivf_topk, whose
    probe-join prunes to nprobe/nlist of the data.
    """
    from pyspark.sql.window import Window

    if n_queries > MAX_BRUTE_FORCE_QUERIES:
        raise ValueError(
            f"ann_cosine_topk is the O(q*n) brute-force baseline; "
            f"n_queries={n_queries} exceeds MAX_BRUTE_FORCE_QUERIES="
            f"{MAX_BRUTE_FORCE_QUERIES}. Use ann_ivf_topk for large "
            f"query batches."
        )
    # eager localCheckpoint, not cache(): one materialization feeds the
    # query side and the corpus side, and the blocks are GC-reclaimed
    # (cache() entries leak in the CacheManager across the driver's many
    # query invocations per session)
    vecs = _vectors(spark, sf_dir).localCheckpoint(eager=True)
    queries = vecs.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    pairs = F.broadcast(queries).crossJoin(vecs).where(
        F.col("vec_id") != F.col("query_id")
    )
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    scored = pairs.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cosine"))
    )


def _lsh_verified_pairs(vecs, threshold: float):
    """LSH-banded candidate pairs verified by exact cosine >= threshold.

    Shuffle discipline (100 TB path): the bucket self-join moves only
    (band, key, vec_id) triples; vectors rejoin the deduped pair list
    afterwards (broadcast when the corpus side fits, hash join
    otherwise). Skewed buckets are AQE's skew-join problem, not ours.
    """
    # two-step select: dots array materialized once per row, then the
    # band keys are plain (codegen-able) arithmetic over its elements
    with_dots = vecs.select(
        "vec_id", _matrix_dots(F.col("v"), HYPERPLANES).alias("d")
    )
    band_keys = F.array(
        *[
            sum(
                F.when(
                    F.element_at("d", b * BITS_PER_BAND + r + 1) > 0, 1 << r
                ).otherwise(0)
                for r in range(BITS_PER_BAND)
            ).cast("int")
            for b in range(N_BANDS)
        ]
    )
    banded = with_dots.select(
        "vec_id", F.posexplode(band_keys).alias("band", "key")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, ["band", "key"])
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    x = vecs.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
                    F.col("nrm").alias("na"))
    y = vecs.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
                    F.col("nrm").alias("nb"))
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(x, "vec_a").join(y, "vec_b")
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def sim_cosine_pairs_lsh(spark, sf_dir):
    """All-pairs cosine >= 0.30 via random-hyperplane LSH banding.
    Candidates = pairs sharing any band signature; exact cosine verify."""
    # reused by banding and twice by the verify join; GC-reclaimed
    vecs = _vectors(spark, sf_dir).localCheckpoint(eager=True)
    return _lsh_verified_pairs(vecs, PAIR_THRESHOLD)


def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-duplicate assignment (dedup family).

    LSH candidates -> exact cosine >= 0.35 -> each vector's canonical is
    the SMALLEST vec_id among itself and its verified near-dup partners
    (single-hop canonicalization — the reference's keep-first dedup
    semantics; full transitive closure would be an iterative
    connected-components pass, deliberately out of scope for one query).
    Output: (vec_id, canonical_id, is_duplicate).
    """
    vecs = _vectors(spark, sf_dir).localCheckpoint(eager=True)
    return _keep_first(vecs.select("vec_id"),
                       _lsh_verified_pairs(vecs, NEAR_DUP_THRESHOLD))


def emb_quantize_int8(spark, sf_dir):
    """Per-vector symmetric int8 quantization (the standard ANN storage
    compression: 4x smaller than float32, dequantize-or-dot in int8 at
    search time). Pure map-side projection — scale = 127/max|v|,
    q_i = round(v_i * scale). Output: the scale plus reconstruction
    error stats per vector (scalars, so the oracle hash is exact;
    the quantized array itself is a deterministic function of these).
    """
    vecs = _vectors(spark, sf_dir)
    max_abs = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
    scale = F.lit(127.0) / max_abs
    # dequantized element: round(x*scale)/scale; error = x - that
    err = F.transform(
        F.col("v"),
        lambda x: x - F.round(x * scale) / scale,
    )
    mse = _fold_sum(F.transform(err, lambda e: e * e)) / F.lit(float(DIM))
    max_err = F.array_max(F.transform(err, lambda e: F.abs(e)))
    return vecs.select(
        "vec_id",
        F.round(scale, 6).alias("scale"),
        F.round(mse, 10).alias("mse"),
        F.round(max_err, 8).alias("max_abs_err"),
    )


def connected_components_bigstar(pairs, max_rounds: int = 30):
    """Alternating large-star / small-star contraction over an edge
    DataFrame with columns (a, b). Returns (vec_id, lbl) labels for
    every edge-touched vertex, lbl = component min. See
    dedup_components_bigstar for the scale rationale; exposed as a
    standalone operator so pathological graph shapes (chains, giant
    stars, forests) are unit-testable independent of the LSH pair
    generator (tests/test_similarity_behavior.py)."""
    # canonical undirected edges a < b, no self-loops
    edges = (
        pairs.where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _checksum(e) -> tuple:
        row = e.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum(F.xxhash64("a", "b")), F.lit(0)).alias("h"),
        ).head()
        return (row["n"], row["h"])

    def _star(e, large: bool):
        # symmetric neighbor view: (u, v) for both directions
        sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m = F.least(F.col("mn"), F.col("u"))
        joined = sym.join(mins, "u").select("u", "v", m.alias("m"))
        if large:
            out = joined.where(F.col("v") > F.col("u")).select(
                F.col("v").alias("x"), F.col("m").alias("y")
            )
        else:
            relinked = joined.where(F.col("v") < F.col("u")).select(
                F.col("v").alias("x"), F.col("m").alias("y")
            )
            self_link = joined.select(
                F.col("u").alias("x"), F.col("m").alias("y")
            )
            out = relinked.union(self_link)
        return (
            out.where(F.col("x") != F.col("y"))
            .select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
            .distinct()
        )

    prev = _checksum(edges)
    for _ in range(max_rounds):  # >> the O(log^2 n) bound for any real graph
        edges = _star(edges, large=True).localCheckpoint(eager=True)
        edges = _star(edges, large=False).localCheckpoint(eager=True)
        cur = _checksum(edges)
        if cur == prev:
            break
        prev = cur
    # stars: every edge is (root, child) with root = component min
    return (
        edges.select(F.col("b").alias("vec_id"), F.col("a").alias("lbl"))
        .union(edges.select(F.col("a").alias("vec_id"), F.col("a").alias("lbl")))
        .groupBy("vec_id")
        .agg(F.min("lbl").alias("lbl"))
    )


def dedup_components_bigstar(spark, sf_dir):
    """Connected components via alternating large-star / small-star —
    the 100 TB-scale variant of ``dedup_components`` (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14). Same
    output contract and oracle as dedup_components.

    Why this scales where plain label propagation strains: each round
    is ONE groupBy(min) + ONE equi-join over the current edge set, the
    edge set provably shrinks toward stars (no giant-component label
    ping-pong), and round count is O(log^2 n) on adversarial graphs
    versus O(diameter) — on a 100 TB corpus with a pathological chain
    component, diameter rounds are the difference between finishing
    and not. Skew note: the groupBy key is the vertex id, so a giant
    star concentrates one group; AQE skew-join handles the join side
    and the min() agg combines map-side, so the hot group's reducer
    receives one partial per upstream partition, not the whole star.

    * large-star: every neighbor v > u relinks to m = min(N(u) u {u})
    * small-star: every neighbor v <= u (and u itself) relinks to m

    Both implemented as groupBy-min + join (never a collect_list of
    neighbor sets — the giant component would OOM its reducer).
    Convergence = canonical edge set stable (count + order-independent
    xxhash64 checksum, one tiny aggregate per round, same driver-side
    footprint as any fixed-point loop).
    """
    vecs = _vectors(spark, sf_dir).localCheckpoint(eager=True)
    pairs = _lsh_verified_pairs(vecs, NEAR_DUP_THRESHOLD).select(
        F.col("vec_a").alias("a"), F.col("vec_b").alias("b")
    )
    labels = connected_components_bigstar(pairs)
    return (
        vecs.select("vec_id")
        .join(labels, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("lbl", F.col("vec_id")).alias("component_id"),
        )
    )


def dedup_components(spark, sf_dir):
    """Full transitive near-dup closure: connected components over the
    LSH-verified pair graph by iterative min-label propagation — the
    engine's iterative-algorithm path (completes dedup_embedding_cosine,
    which is deliberately single-hop).

    Each round every vertex takes the min label among itself and its
    neighbors; lineage is cut per round with localCheckpoint (an
    iterative DAG otherwise grows unboundedly). Convergence is checked
    with a 1-row aggregate per round — the only driver-side value, as
    in any fixed-point loop. Rounds needed = graph diameter (near-dup
    components are tiny: a handful of rounds). At 100 TB you'd swap the
    per-round join for large-star/small-star to bound skew on giant
    components; the loop shape is identical.

    Oracle: DuckDB recursive CTE propagating labels over the same
    edges. Output: (vec_id, component_id = min vec_id reachable).
    """
    vecs = _vectors(spark, sf_dir).localCheckpoint(eager=True)
    pairs = _lsh_verified_pairs(vecs, NEAR_DUP_THRESHOLD).select("vec_a", "vec_b")
    edges = (
        pairs.union(pairs.select(F.col("vec_b"), F.col("vec_a")))
        .toDF("src", "dst")
        .localCheckpoint(eager=True)  # pair generation runs once, not per round
    )
    # Iterate ONLY over edge-touched vertices: isolated vertices (the
    # overwhelming majority of a real corpus) can never change label,
    # so they stay out of every round's join and rejoin at the end.
    labels = (
        edges.select(F.col("src").alias("vec_id"))
        .distinct()
        .withColumn("lbl", F.col("vec_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(20):  # cap >> any real near-dup component diameter
        neighbor_min = (
            edges.join(labels, edges.src == labels.vec_id)
            .groupBy(F.col("dst").alias("vec_id"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        new_labels = (
            labels.join(neighbor_min, "vec_id", "left")
            .select(
                "vec_id",
                F.least(F.col("lbl"), F.coalesce("nlbl", "lbl")).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "vec_id")
            .where(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return (
        vecs.select("vec_id")
        .join(labels, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("lbl", F.col("vec_id")).alias("component_id"),
        )
    )


def ann_ivf_topk(spark, sf_dir, nprobe: int = N_PROBE):
    """IVF top-k: the partition-pruned scale path for ANN search.

    Every vector is assigned to its max-dot coarse centroid (16 fixed
    literals -> map-side expression, no shuffle); each query probes its
    `nprobe` nearest centroids (probe rank: dot DESC, cell ASC) and
    searches ONLY those inverted lists. The probe->corpus equi-join on
    cell_id is the IVF partition pruning: at 100 TB the corpus is
    written bucketed/partitioned by cell_id and a probe touches
    nprobe/nlist of the data. Query side (20 x nprobe probes) is
    broadcast. The probe width is a per-query search setting of the
    one index: only the number of probed cells varies with it, so
    recall deltas between widths measure the probe window alone.
    """
    from pyspark.sql.window import Window

    vecs = _vectors(spark, sf_dir)
    # The checkpoint carries (vec_id, v, nrm, cell_id) but NOT the
    # 16-double dots array (r14): dots was materialized for EVERY
    # corpus row while only the N_QUERIES probe rows ever read it —
    # the centroid scores are bound once for the cell_id argmax and
    # dropped, and the query side recomputes them for its bounded row
    # set from the checkpointed v (same literals, same fold — bit-
    # identical). At 100 TB this narrows the corpus-sized
    # materialization by the whole nlist-wide score array. The dots
    # Column OBJECT is built once and reused in both selects: Columns
    # are immutable expression trees, and constructing the 16x64
    # literal matrix is ~1k py4j round trips (a measured +0.4 s of
    # driver time per extra construction at any scale).
    dots = _matrix_dots(F.col("v"), CENTROIDS)
    # corpus + query side both read it; GC-reclaimed
    assigned = assign_cells(vecs, dots).localCheckpoint(eager=True)

    qprobe_w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("cid"))
    probes = (
        assigned.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
            F.posexplode(dots).alias("pos", "dot"),
        )
        .withColumn("cid", (F.col("pos") + 1).cast("long"))
        .withColumn("probe_rank", F.row_number().over(qprobe_w))
        .where(F.col("probe_rank") <= nprobe)
        .select("query_id", "qv", "qn", F.col("cid").alias("cell_id"))
    )
    cand = F.broadcast(probes).join(assigned, "cell_id").where(
        F.col("vec_id") != F.col("query_id")
    )
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.select("query_id", F.col("vec_id").alias("neighbor_id"),
                    cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# DuckDB oracles — same folds, same literals
# ---------------------------------------------------------------------------

def _duck_list(plane: list[float]) -> str:
    return "[" + ", ".join(repr(v) for v in plane) + "]"


_DUCK_V = "list_transform(embedding, x -> CAST(x AS DOUBLE))"


def _duck_fold_sum(arr: str) -> str:
    return f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {arr}), (acc, x) -> acc + x)"


def _duck_dot(a: str, b: str) -> str:
    return _duck_fold_sum(f"list_transform(range(1, {DIM}+1), i -> {a}[i] * {b}[i])")


_DUCK_NORM = f"sqrt({_duck_fold_sum(f'list_transform({_DUCK_V}, x -> x*x)')})"

_DUCK_BAND_KEYS = "[" + ", ".join(
    "CAST("
    + " + ".join(
        f"(CASE WHEN {_duck_dot('v', _duck_list(HYPERPLANES[b * BITS_PER_BAND + r]))} > 0 "
        f"THEN {1 << r} ELSE 0 END)"
        for r in range(BITS_PER_BAND)
    )
    + " AS INT)"
    for b in range(N_BANDS)
) + "]"

ORACLE_SQL = {
    "ann_cosine_topk": f"""
        WITH vecs AS (
            SELECT vec_id, {_DUCK_V} AS v, {_DUCK_NORM} AS nrm FROM embeddings
        ), scored AS (
            SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
                   {_duck_dot('q.v', 't.v')} / (q.nrm * t.nrm) AS cos
            FROM vecs q JOIN vecs t ON t.vec_id <> q.vec_id
            WHERE q.vec_id < {N_QUERIES}
        )
        SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= {TOPK}
    """,
    "sim_cosine_pairs_lsh": f"""
        WITH vecs AS (
            SELECT vec_id, {_DUCK_V} AS v, {_DUCK_NORM} AS nrm FROM embeddings
        ), banded AS (
            SELECT vec_id, v, nrm, idx.i - 1 AS band, t.keys[idx.i] AS key
            FROM (SELECT vec_id, v, nrm, {_DUCK_BAND_KEYS} AS keys FROM vecs) t,
                 (SELECT unnest(range(1, {N_BANDS} + 1)) AS i) idx
        ), cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
        )
        SELECT vec_a, vec_b,
               round({_duck_dot('x.v', 'y.v')} / (x.nrm * y.nrm), 6) AS cosine
        FROM cand
        JOIN vecs x ON x.vec_id = vec_a
        JOIN vecs y ON y.vec_id = vec_b
        WHERE round({_duck_dot('x.v', 'y.v')} / (x.nrm * y.nrm), 6)
              >= {PAIR_THRESHOLD}
    """,
}

_DUCK_CENT_DOTS = "[" + ", ".join(
    _duck_dot("v", _duck_list(c)) for c in CENTROIDS
) + "]"

ORACLE_SQL["dedup_embedding_cosine"] = f"""
    WITH vecs AS (
        SELECT vec_id, {_DUCK_V} AS v, {_DUCK_NORM} AS nrm FROM embeddings
    ), banded AS (
        SELECT vec_id, v, nrm, idx.i - 1 AS band, t.keys[idx.i] AS key
        FROM (SELECT vec_id, v, nrm, {_DUCK_BAND_KEYS} AS keys FROM vecs) t,
             (SELECT unnest(range(1, {N_BANDS} + 1)) AS i) idx
    ), cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
    ), pairs AS (
        SELECT vec_a, vec_b
        FROM cand
        JOIN vecs x ON x.vec_id = vec_a
        JOIN vecs y ON y.vec_id = vec_b
        WHERE round({_duck_dot('x.v', 'y.v')} / (x.nrm * y.nrm), 6)
              >= {NEAR_DUP_THRESHOLD}
    ), pm AS (
        SELECT vec_b AS vec_id, MIN(vec_a) AS min_partner FROM pairs GROUP BY vec_b
    )
    SELECT v.vec_id,
           least(v.vec_id, coalesce(pm.min_partner, v.vec_id)) AS canonical_id,
           least(v.vec_id, coalesce(pm.min_partner, v.vec_id)) <> v.vec_id
               AS is_duplicate
    FROM vecs v LEFT JOIN pm ON pm.vec_id = v.vec_id
"""

ORACLE_SQL["emb_quantize_int8"] = f"""
    WITH vecs AS (
        SELECT vec_id, {_DUCK_V} AS v FROM embeddings
    ), scaled AS (
        SELECT vec_id,
               127.0 / list_max(list_transform(v, x -> abs(x))) AS scale, v
        FROM vecs
    ), errs AS (
        SELECT vec_id, scale,
               list_transform(v, x -> x - round(x * scale) / scale) AS err
        FROM scaled
    )
    SELECT vec_id,
           round(scale, 6) AS scale,
           round({_duck_fold_sum('list_transform(err, e -> e*e)')} / {DIM}.0, 10)
               AS mse,
           round(list_max(list_transform(err, e -> abs(e))), 8) AS max_abs_err
    FROM errs
"""


def dedup_cluster_census(spark, sf_dir):
    """Near-dup cluster-size census: how many duplicate clusters of
    each size the corpus contains — the report that decides dedup
    policy (a corpus of pairs dedups differently from one with
    thousand-document pile-ups). Derived from the full transitive
    closure (dedup_components) by two count-sized aggregates; the
    iterative work happens once, everything above it is map-side
    combinable."""
    comp = dedup_components(spark, sf_dir)
    sizes = comp.groupBy("component_id").agg(
        F.count("*").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters")
    )


ORACLE_SQL["dedup_components"] = f"""
    WITH RECURSIVE vecs AS MATERIALIZED (
        SELECT vec_id, {_DUCK_V} AS v, {_DUCK_NORM} AS nrm FROM embeddings
    ), banded AS (
        SELECT vec_id, v, nrm, idx.i - 1 AS band, t.keys[idx.i] AS key
        FROM (SELECT vec_id, v, nrm, {_DUCK_BAND_KEYS} AS keys FROM vecs) t,
             (SELECT unnest(range(1, {N_BANDS} + 1)) AS i) idx
    ), cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
    ), pairs AS MATERIALIZED (
        SELECT vec_a, vec_b
        FROM cand
        JOIN vecs x ON x.vec_id = vec_a
        JOIN vecs y ON y.vec_id = vec_b
        WHERE round({_duck_dot('x.v', 'y.v')} / (x.nrm * y.nrm), 6)
              >= {NEAR_DUP_THRESHOLD}
    ), edges AS MATERIALIZED (
        -- MATERIALIZED hints matter: without them DuckDB re-inlines the
        -- dot-product-heavy pair pipeline into every recursive
        -- iteration (measured 109s -> 13s at sf0.01)
        SELECT vec_a AS src, vec_b AS dst FROM pairs
        UNION ALL
        SELECT vec_b, vec_a FROM pairs
    ), walk (v, lbl) AS (
        SELECT vec_id, vec_id FROM vecs
        UNION
        SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.v
    )
    SELECT v AS vec_id, MIN(lbl) AS component_id FROM walk GROUP BY v
"""

ORACLE_SQL["dedup_components_bigstar"] = ORACLE_SQL["dedup_components"]

ORACLE_SQL["dedup_cluster_census"] = ORACLE_SQL["dedup_components"].replace(
    "SELECT v AS vec_id, MIN(lbl) AS component_id FROM walk GROUP BY v",
    """SELECT cluster_size, count(*) AS n_clusters FROM (
           SELECT component_id, count(*) AS cluster_size FROM (
               SELECT v AS vec_id, MIN(lbl) AS component_id FROM walk GROUP BY v
           ) GROUP BY component_id
       ) GROUP BY cluster_size""",
)


def _duck_ivf_topk(nprobe: int = N_PROBE) -> str:
    """The ann_ivf_topk oracle at probe width `nprobe` — same rank rules
    (probe: dot DESC, cell ASC; result: cos DESC, id ASC)."""
    return f"""
        WITH vecs AS (
            SELECT vec_id, {_DUCK_V} AS v, {_DUCK_NORM} AS nrm FROM embeddings
        ), assigned AS (
            SELECT vec_id, v, nrm, dots,
                   list_position(dots, list_max(dots)) AS cluster_id
            FROM (SELECT vec_id, v, nrm, {_DUCK_CENT_DOTS} AS dots FROM vecs)
        ), probes AS (
            SELECT query_id, qv, qn, cluster_id FROM (
                SELECT a.vec_id AS query_id, a.v AS qv, a.nrm AS qn,
                       idx.i AS cluster_id,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY a.dots[idx.i] DESC, idx.i) AS probe_rank
                FROM assigned a,
                     (SELECT unnest(range(1, {N_CENTROIDS} + 1)) AS i) idx
                WHERE a.vec_id < {N_QUERIES}
            ) WHERE probe_rank <= {nprobe}
        ), scored AS (
            SELECT p.query_id, t.vec_id AS neighbor_id,
                   {_duck_dot('p.qv', 't.v')} / (p.qn * t.nrm) AS cos
            FROM probes p JOIN assigned t ON t.cluster_id = p.cluster_id
            WHERE t.vec_id <> p.query_id
        )
        SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= {TOPK}
    """


ORACLE_SQL["ann_ivf_topk"] = _duck_ivf_topk()

KNN_K = 5


def sim_knn_graph(spark, sf_dir):
    """Corpus-wide k-NN graph (the input structure for graph-based ANN
    indexes, near-dup clustering, and label propagation): every
    vector's KNN_K nearest same-cluster neighbors by exact cosine.

    Scale shape: the quadratic term is confined WITHIN IVF cells — the
    self-join key is cell_id, so candidate volume is sum over cells
    of |cell|^2, not |corpus|^2 (with balanced cells that is
    |corpus|^2 / n_cells; hot cells are AQE's skew-join case and, at
    100 TB, the cue to deepen the quantizer via kmeans_train). The
    per-vector top-K window reuses the same clustered partitioning.
    Neighbors outside the cell are invisible by contract — recall
    rises with cluster count/probes, the standard IVF trade — and the
    oracle replicates the same cell rule, so parity is exact."""
    from pyspark.sql.window import Window

    assigned = assign_cells(_vectors(spark, sf_dir)).localCheckpoint(
        eager=True)  # both self-join sides read it
    a = assigned.select(
        "cell_id", F.col("vec_id").alias("src"),
        F.col("v").alias("sv"), F.col("nrm").alias("sn"),
    )
    b = assigned.select(
        "cell_id", F.col("vec_id").alias("dst"),
        F.col("v").alias("dv"), F.col("nrm").alias("dn"),
    )
    cos = _dot(F.col("sv"), F.col("dv")) / (F.col("sn") * F.col("dn"))
    w = Window.partitionBy("src").orderBy(F.desc("cos"), F.asc("dst"))
    return (
        a.join(b, "cell_id")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= KNN_K)
        .select("src", "dst", "rank", F.round("cos", 6).alias("cosine"))
    )



ORACLE_SQL["sim_knn_graph"] = f"""
    WITH vecs AS (
        SELECT vec_id, {_DUCK_V} AS v, {_DUCK_NORM} AS nrm FROM embeddings
    ), assigned AS (
        SELECT vec_id, v, nrm,
               list_position(dots, list_max(dots)) AS cluster_id
        FROM (SELECT vec_id, v, nrm, {_DUCK_CENT_DOTS} AS dots FROM vecs)
    ), scored AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               {_duck_dot('a.v', 'b.v')} / (a.nrm * b.nrm) AS cos
        FROM assigned a JOIN assigned b
          ON a.cluster_id = b.cluster_id AND a.vec_id <> b.vec_id
    )
    SELECT src, dst, rank, round(cos, 6) AS cosine FROM (
        SELECT *, row_number() OVER (
            PARTITION BY src ORDER BY cos DESC, dst) AS rank
        FROM scored
    ) WHERE rank <= {KNN_K}
"""

def semantic_search_topk(spark, sf_dir):
    """End-to-end retrieval: IVF top-k over the embedding index joined
    back to the documents table for the payload (language + snippet) —
    the full RAG-retrieval query shape, not just the index probe.

    Scale shape: the hit list is queries x k rows (tiny — broadcast
    into the corpus-side join), so the documents table is probed by an
    equi-join on its key with no shuffle of document text beyond the
    matched rows; at 100 TB the documents side is bucketed by doc_id
    (storage.py) and the probe is bucket-pruned."""
    hits = ann_ivf_topk(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.substring("text", 1, 40).alias("snippet")
    )
    return (
        F.broadcast(hits)
        .join(docs, hits.neighbor_id == docs.doc_id)
        .select("query_id", "rank", "neighbor_id", "cosine", "lang", "snippet")
    )


ORACLE_SQL["semantic_search_topk"] = f"""
    WITH hits AS ({ORACLE_SQL["ann_ivf_topk"]})
    SELECT h.query_id, h.rank, h.neighbor_id, h.cosine,
           d.lang, substring(d.text, 1, 40) AS snippet
    FROM hits h JOIN documents d ON d.doc_id = h.neighbor_id
"""

def ann_recall_eval(spark, sf_dir):
    """ANN index-quality evaluation: recall@5 of the IVF probe path
    against the exact brute-force baseline, per query — the metric that
    tells you whether nlist/nprobe are tuned before committing a 100 TB
    index build.

    Scale shape: both result sets are queries x k rows (tiny); the
    overlap join and per-query count happen on those frames, never the
    corpus. A production run samples queries the same way this uses the
    vec_id < N_QUERIES slice."""
    exact = ann_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    ivf = ann_ivf_topk(spark, sf_dir).select("query_id", "neighbor_id")
    return recall_at_k(ivf, exact, TOPK)


ORACLE_SQL["ann_recall_eval"] = f"""
    WITH exact_hits AS ({ORACLE_SQL["ann_cosine_topk"]}),
    ivf_hits AS ({ORACLE_SQL["ann_ivf_topk"]}),
    hitcnt AS (
        SELECT i.query_id, count(*) AS hits
        FROM ivf_hits i JOIN exact_hits e
          ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
        GROUP BY 1
    )
    SELECT q.query_id, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
           CAST(CAST(COALESCE(h.hits, 0) AS BIGINT) AS DOUBLE) / {float(TOPK)}
               AS recall
    FROM (SELECT DISTINCT query_id FROM exact_hits) q
    LEFT JOIN hitcnt h USING (query_id)
"""

# Power-of-two quantization scale: double multiplication by 2^20 is
# EXACT (no rounding at all), so floor() is unambiguous on both engines.
_MEAN_Q_SCALE = 1 << 20


def emb_dim_stats(spark, sf_dir):
    """Per-dimension embedding distribution census (n/min/max/mean):
    the pre-flight check before PCA, quantization, or ANN index builds
    (dead dims, scale outliers, mean offsets).

    Scale shape: posexplode fans each vector into (dim, value) rows
    map-side, then ONE partial-aggregated groupBy on the 64 dim keys —
    the shuffle carries 64 partial rows per task regardless of corpus
    size. Mean goes through an exact integer sum of floor(x * 2^20)
    (exact double scaling), divided once in identical operand order on
    both engines."""
    e = fan_out(spark, load_table(spark, sf_dir, "embeddings"))
    vals = e.select(
        F.posexplode(_emb_d(F.col("embedding"))).alias("pos", "x")
    ).select((F.col("pos") + 1).cast("long").alias("dim"), "x")
    return (
        vals.groupBy("dim")
        .agg(
            F.count("*").alias("n_vals"),
            F.min("x").alias("min_val"),
            F.max("x").alias("max_val"),
            F.sum(
                F.floor(F.col("x") * F.lit(float(_MEAN_Q_SCALE))).cast("bigint")
            ).alias("q_sum"),
        )
        .select(
            "dim", "n_vals", "min_val", "max_val",
            (
                F.col("q_sum").cast("double")
                / F.col("n_vals")
                / F.lit(float(_MEAN_Q_SCALE))
            ).alias("mean_q"),
        )
    )


ORACLE_SQL["emb_dim_stats"] = f"""
    WITH vals AS (
        SELECT idx.i AS dim, CAST(embedding[idx.i] AS DOUBLE) AS x
        FROM embeddings, (SELECT unnest(range(1, {DIM} + 1)) AS i) idx
    ), agg AS (
        SELECT dim, count(*) AS n_vals, min(x) AS min_val, max(x) AS max_val,
               CAST(sum(CAST(floor(x * {float(_MEAN_Q_SCALE)}) AS BIGINT))
                    AS BIGINT) AS q_sum
        FROM vals GROUP BY dim
    )
    SELECT CAST(dim AS BIGINT) AS dim, n_vals, min_val, max_val,
           CAST(q_sum AS DOUBLE) / n_vals / {float(_MEAN_Q_SCALE)} AS mean_q
    FROM agg
"""


# Product-quantization codebooks: 4 subspaces x 16 dims x 8 codes,
# fixed seeded literals (at 100 TB these come from kmeans_train per
# subspace, broadcast exactly like this). Drawn AFTER the hyperplane /
# centroid draws above so existing literals are unchanged.
PQ_SUBSPACES = 4
PQ_SUBDIM = DIM // PQ_SUBSPACES
PQ_CODES_PER_SUB = 8
PQ_CODEBOOKS: list[list[list[float]]] = [
    [[float(x) for x in _rng.randn(PQ_SUBDIM)] for _ in range(PQ_CODES_PER_SUB)]
    for _ in range(PQ_SUBSPACES)
]


def emb_pq_census(spark, sf_dir):
    """Product-quantization code assignment census: each vector splits
    into 4 subvectors of 16 dims; each subvector maps to its nearest
    (L2) code from an 8-entry per-subspace codebook; the census counts
    (subspace, code) occupancy — the balance check before committing a
    PQ-compressed ANN index (empty or overloaded cells mean the
    codebooks need retraining).

    Scale shape: assignment is a pure map-side expression against
    broadcast codebook literals (zero shuffle), then one partial-
    aggregated groupBy on at most 32 keys. Distance folds run in a
    fixed order, so both engines produce bit-identical argmins."""
    vecs = _vectors(spark, sf_dir)

    # closure factory, not a default-arg lambda: pyspark counts default
    # args as extra higher-order-function parameters (see dedup._perm_fn)
    def _dist_fn(sub):
        return lambda c: _fold_sum(
            F.zip_with(sub, c, lambda x, y: (x - y) * (x - y))
        )

    # bind each subspace's 8-code distance array ONCE as a column (r13
    # optimization round, same fix as ann_trained._trained_base):
    # array_position and array_min both consume it, and interpreted
    # HOFs get no common-subexpression elimination — the inline form
    # evaluated every 8x16-element distance transform twice per row
    dist_cols = []
    for s in range(PQ_SUBSPACES):
        sub = F.slice(F.col("v"), s * PQ_SUBDIM + 1, PQ_SUBDIM)
        codebook = _matrix_lit(PQ_CODEBOOKS[s])
        dist_cols.append(F.transform(codebook, _dist_fn(sub)).alias(f"_d{s}"))
    sub_codes = [
        F.array_position(F.col(f"_d{s}"), F.array_min(F.col(f"_d{s}")))
        .cast("int")
        for s in range(PQ_SUBSPACES)
    ]
    return (
        vecs.select(*dist_cols)
        .select(F.posexplode(F.array(*sub_codes)).alias("pos", "code"))
        .select((F.col("pos") + 1).alias("subspace"), "code")
        .groupBy("subspace", "code")
        .agg(F.count("*").alias("cnt"))
    )


def _pq_subdists():
    """array<array<double>>: per subspace, the squared L2 distance of
    this row's subvector to each of the 8 codebook entries — the PQ
    assignment input AND, on the query side, exactly the ADC lookup
    table (fixed fold order, bit-identical across engines)."""
    # one transform over the codebook matrix per subspace (4 HOF trees,
    # not 4x8 independent folds — HOFs are interpreted, so expression
    # consolidation is the same 4-5x lever _matrix_dots documents)
    def _dists_fn(sub):
        return lambda c: _fold_sum(
            F.zip_with(sub, c, lambda x, y: (x - y) * (x - y)))

    return F.array(*[
        F.transform(
            _matrix_lit(PQ_CODEBOOKS[s]),
            _dists_fn(F.slice(F.col("v"), s * PQ_SUBDIM + 1, PQ_SUBDIM)),
        )
        for s in range(PQ_SUBSPACES)
    ])


def adc_topk(probes: DataFrame, cand: DataFrame, n_sub: int,
             k: int) -> DataFrame:
    """Asymmetric-distance top-k: each (query, candidate) distance is
    ``n_sub`` lookups lut[s][codes[s]] summed, ranked (adc ASC,
    neighbor_id ASC). probes: (query_id, lut, cell_id), broadcast;
    cand: (vec_id, cell_id, codes), the corpus side, which never
    carries vectors. Output: (query_id, neighbor_id, rank, adc_dist)."""
    from pyspark.sql.window import Window

    adc = None
    for s in range(1, n_sub + 1):
        term = F.element_at(F.element_at("lut", s), F.element_at("codes", s))
        adc = term if adc is None else adc + term
    rank_w = Window.partitionBy("query_id").orderBy(
        F.asc("adc"), F.asc("neighbor_id"))
    return (
        F.broadcast(probes).join(cand, "cell_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                adc.alias("adc"))
        .withColumn("rank", F.row_number().over(rank_w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                F.round("adc", 6).alias("adc_dist"))
    )


def ann_ivf_pq_topk(spark, sf_dir):
    """IVF + product-quantization search with asymmetric distance
    computation (the IVFADC index of Jegou/Douze/Schmid, PAMI 2011 —
    the standard billion-scale ANN layout): every corpus vector is
    stored as its IVF cell plus 4 one-byte PQ codes; a query
    precomputes a 4x8 lookup table of subspace distances ONCE, probes
    its N_PROBE nearest cells, and scores each candidate with 4 table
    reads + 3 adds — candidate vectors are never touched.

    Scale shape: the corpus side of the probe join carries (vec_id,
    cell_id, codes) — ~12 bytes of payload per vector instead of
    the 512-byte float64 embedding; the LUT rides the broadcast query
    side. At 100 TB this is why PQ exists: the scored set never
    re-reads vector storage. Approximation contract: ADC ranks by
    quantized distance — ann_recall_eval's harness pattern applies if
    recall vs exact is wanted; here the oracle verifies the ADC
    pipeline itself exactly (same codebooks, same LUT, same ranking)."""
    vecs = _vectors(spark, sf_dir)
    base = (
        assign_cells(
            vecs.select("vec_id", "v",
                        _matrix_dots(F.col("v"), CENTROIDS).alias("dots")),
            F.col("dots"),
        )
        .select("vec_id", "dots", "cell_id", _pq_subdists().alias("subdists"))
        .select(
            "vec_id", "dots", "cell_id", "subdists",
            F.transform(
                F.col("subdists"),
                lambda d: F.array_position(d, F.array_min(d)).cast("int"),
            ).alias("codes"),
        )
        .localCheckpoint(eager=True)  # corpus cand side + query side
    )
    cand = base.select("vec_id", "cell_id", "codes")

    from pyspark.sql.window import Window

    qprobe_w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("cid"))
    probes = (
        base.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("subdists").alias("lut"),
            F.posexplode("dots").alias("pos", "dot"),
        )
        .withColumn("cid", (F.col("pos") + 1).cast("long"))
        .withColumn("probe_rank", F.row_number().over(qprobe_w))
        .where(F.col("probe_rank") <= N_PROBE)
        .select("query_id", "lut", F.col("cid").alias("cell_id"))
    )
    return adc_topk(probes, cand, PQ_SUBSPACES, TOPK)


def _duck_pq_dist(sub_off: int, code: list[float]) -> str:
    terms = f"list_transform(range(1, {PQ_SUBDIM} + 1), " \
            f"i -> (v[{sub_off} + i] - ({_duck_list(code)})[i])" \
            f" * (v[{sub_off} + i] - ({_duck_list(code)})[i]))"
    return _duck_fold_sum(terms)


ORACLE_SQL["emb_pq_census"] = f"""
    WITH vecs AS (
        SELECT vec_id, {_DUCK_V} AS v FROM embeddings
    ), assigned AS (
        SELECT vec_id, idx.s AS subspace,
               CAST(list_position(dists[idx.s], list_min(dists[idx.s]))
                    AS INT) AS code
        FROM (
            SELECT vec_id, [{", ".join(
                "[" + ", ".join(
                    _duck_pq_dist(s * PQ_SUBDIM, PQ_CODEBOOKS[s][c])
                    for c in range(PQ_CODES_PER_SUB)
                ) + "]"
                for s in range(PQ_SUBSPACES)
            )}] AS dists
            FROM vecs
        ), (SELECT unnest(range(1, {PQ_SUBSPACES} + 1)) AS s) idx
    )
    SELECT subspace, code, count(*) AS cnt
    FROM assigned GROUP BY 1, 2
"""


_DUCK_PQ_DISTS = "[" + ", ".join(
    "[" + ", ".join(
        _duck_pq_dist(s * PQ_SUBDIM, PQ_CODEBOOKS[s][c])
        for c in range(PQ_CODES_PER_SUB)
    ) + "]"
    for s in range(PQ_SUBSPACES)
) + "]"

_DUCK_ADC = " + ".join(
    f"p.lut[{s}][t.codes[{s}]]" for s in range(1, PQ_SUBSPACES + 1)
)

ORACLE_SQL["ann_ivf_pq_topk"] = f"""
    WITH vecs AS (
        SELECT vec_id, {_DUCK_V} AS v FROM embeddings
    ), assigned AS (
        SELECT vec_id, dots,
               list_position(dots, list_max(dots)) AS cluster_id,
               dists,
               list_transform(range(1, {PQ_SUBSPACES} + 1),
                              s -> CAST(list_position(dists[s],
                                        list_min(dists[s])) AS INT)) AS codes
        FROM (SELECT vec_id, {_DUCK_CENT_DOTS} AS dots,
                     {_DUCK_PQ_DISTS} AS dists
              FROM vecs)
    ), probes AS (
        SELECT query_id, lut, cluster_id FROM (
            SELECT a.vec_id AS query_id, a.dists AS lut, idx.i AS cluster_id,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY a.dots[idx.i] DESC, idx.i) AS probe_rank
            FROM assigned a,
                 (SELECT unnest(range(1, {N_CENTROIDS} + 1)) AS i) idx
            WHERE a.vec_id < {N_QUERIES}
        ) WHERE probe_rank <= {N_PROBE}
    ), scored AS (
        SELECT p.query_id, t.vec_id AS neighbor_id,
               {_DUCK_ADC} AS adc
        FROM probes p JOIN assigned t ON t.cluster_id = p.cluster_id
        WHERE t.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, rank, round(adc, 6) AS adc_dist FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY adc ASC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= {TOPK}
"""


def ann_pq_recall_eval(spark, sf_dir):
    """Recall@5 of the IVFADC path against the exact L2 brute-force
    baseline — the acceptance gate before building a compressed index.
    Uses the SAME metric (squared L2) on both sides so the loss
    measured is IVF pruning + quantization, not a cosine-vs-L2
    mismatch.

    On this synthetic corpus the gate FAILS by design: the seeded
    PQ_CODEBOOKS are untrained (random) and the embeddings have no
    cluster structure, so quantized distances carry ~no ranking signal
    and measured recall ~0.01 — exactly the verdict this harness
    exists to deliver (the cue to train per-subspace codebooks with
    kmeans_train before trusting ADC). The driver-checked value is the
    harness's exactness, not the quantizer's quality.

    Scale shape: the exact side is the bounded-query brute-force
    baseline (broadcast queries, corpus streamed once); both result
    sets are queries x k rows and the overlap join never touches the
    corpus."""
    vecs = _vectors(spark, sf_dir).localCheckpoint(eager=True)
    exact = _exact_l2_topk(vecs, N_QUERIES, TOPK)
    pq = ann_ivf_pq_topk(spark, sf_dir).select("query_id", "neighbor_id")
    return recall_at_k(pq, exact, TOPK)


ORACLE_SQL["ann_pq_recall_eval"] = f"""
    WITH vecs2 AS (
        SELECT vec_id, {_DUCK_V} AS v FROM embeddings
    ), exact_l2 AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
                   {_duck_fold_sum(
                       'list_transform(range(1, ' + str(DIM) + ' + 1), '
                       'i -> (q.v[i] - t.v[i]) * (q.v[i] - t.v[i]))')} AS d2,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_duck_fold_sum(
                           'list_transform(range(1, ' + str(DIM) + ' + 1), '
                           'i -> (q.v[i] - t.v[i]) * (q.v[i] - t.v[i]))')} ASC,
                           t.vec_id) AS rank
            FROM vecs2 q JOIN vecs2 t ON t.vec_id <> q.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ) WHERE rank <= {TOPK}
    ), pq_hits AS ({ORACLE_SQL["ann_ivf_pq_topk"]}),
    hitcnt AS (
        SELECT p.query_id, count(*) AS hits
        FROM pq_hits p JOIN exact_l2 e
          ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id
        GROUP BY 1
    )
    SELECT q.query_id, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
           CAST(CAST(COALESCE(h.hits, 0) AS BIGINT) AS DOUBLE) / {float(TOPK)}
               AS recall
    FROM (SELECT DISTINCT query_id FROM exact_l2) q
    LEFT JOIN hitcnt h ON h.query_id = q.query_id
"""


def search_hybrid_rerank(spark, sf_dir):
    """Hybrid retrieval, the retrieve -> rerank shape every modern
    search/RAG stack runs: BM25 lexical top-10 per query
    (curation_ext.text_bm25_topk — the sparse stage) re-ranked by dense
    cosine between the candidate document's embedding and the query's
    embedding (vec_id == query_id stands in for the query encoder on
    this fixture). Candidates without a vector are dropped — the
    real-world "not yet embedded" gap — so the rerank is over the
    embedded subset, mirrored exactly in the oracle.

    Scale shape: the lexical stage prunes the corpus to queries x 10
    rows BEFORE any dense work, so the embeddings table is probed by an
    equi-join against a broadcast candidate list (bucket-prunable on
    vec_id at 100 TB) — dense scoring cost is O(candidates), never
    O(corpus). Rank by raw cosine (bit-identical across engines — same
    double fold both sides), doc_id tie-break."""
    from pyspark.sql.window import Window

    from .curation_ext import BM25_QUERIES, text_bm25_topk

    lex = text_bm25_topk(spark, sf_dir)
    vecs = _vectors(spark, sf_dir).localCheckpoint(eager=True)
    qids = [qid for qid, _ in BM25_QUERIES]
    qv = vecs.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cand = (
        F.broadcast(lex.withColumnRenamed("rank", "lex_rank"))
        .join(vecs, lex.doc_id == vecs.vec_id)
        .join(F.broadcast(qv), "query_id")
    )
    cos = _dot(F.col("v"), F.col("qv")) / (F.col("nrm") * F.col("qn"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("doc_id"))
    return (
        cand.select("query_id", "doc_id", "lex_rank", "score", cos.alias("cos"))
        .withColumn("rerank", F.row_number().over(w))
        .select(
            "query_id", "doc_id", "lex_rank", "rerank",
            F.round("score", 6).alias("bm25"),
            F.round("cos", 6).alias("cosine"),
        )
    )


def _hybrid_oracle() -> str:
    from .curation_ext import ORACLE_SQL as _CUR_ORACLE

    return f"""
    WITH lex AS ({_CUR_ORACLE["text_bm25_topk"]}),
    vecs AS (
        SELECT vec_id, {_DUCK_V} AS v, {_DUCK_NORM} AS nrm FROM embeddings
    ), cand AS (
        SELECT l.query_id, l.doc_id, l.rank AS lex_rank, l.score,
               {_duck_dot('dv.v', 'qv.v')} / (dv.nrm * qv.nrm) AS cos
        FROM lex l
        JOIN vecs dv ON dv.vec_id = l.doc_id
        JOIN vecs qv ON qv.vec_id = l.query_id
    )
    SELECT query_id, doc_id, lex_rank, rerank,
           round(score, 6) AS bm25, round(cos, 6) AS cosine
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rerank
        FROM cand
    )
"""


ORACLE_SQL["search_hybrid_rerank"] = _hybrid_oracle()


MRL_DIMS = DIM // 2  # truncated prefix length under evaluation


def emb_matryoshka_eval(spark, sf_dir):
    """Matryoshka truncation evaluation (MRL, Kusupati et al.
    NeurIPS'22): per query, how much of the exact top-5 cosine
    retrieval survives when every vector is truncated to its first
    DIM/2 dimensions — the measurement a pipeline runs before
    committing a 100 TB index to truncated storage (half the bytes,
    half the FLOPs per distance).

    Scale shape: ONE checkpointed vector materialization carries both
    the full and prefix norms; both retrieval passes are the guarded
    broadcast(query-slice) x corpus shape of ann_cosine_topk, and the
    agreement join runs on queries x k rows. Same deterministic
    sequential-fold dot products as the rest of the family ->
    bit-exact oracle."""
    from pyspark.sql.window import Window

    vecs = (
        _vectors(spark, sf_dir)
        .withColumn("pv", F.slice("v", 1, MRL_DIMS))
        .withColumn("pn", _norm(F.col("pv")))
        .localCheckpoint(eager=True)  # feeds both retrieval passes
    )

    def top5(vcol, ncol):
        q = vecs.where(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col(vcol).alias("qv"),
            F.col(ncol).alias("qn"),
        )
        pairs = F.broadcast(q).crossJoin(vecs).where(
            F.col("vec_id") != F.col("query_id")
        )
        cos = _dot(F.col("qv"), F.col(vcol)) / (F.col("qn") * F.col(ncol))
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cos"), F.asc("neighbor_id"))
        return (
            pairs.select("query_id", F.col("vec_id").alias("neighbor_id"),
                         cos.alias("cos"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= TOPK)
            .select("query_id", "neighbor_id", "rank")
        )

    full = top5("v", "nrm")
    pre = top5("pv", "pn")
    hits = (
        full.select("query_id", "neighbor_id")
        .join(pre.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("hits"))
    )
    top1 = (
        full.where(F.col("rank") == 1)
        .select("query_id", F.col("neighbor_id").alias("nf"))
        .join(
            pre.where(F.col("rank") == 1)
            .select("query_id", F.col("neighbor_id").alias("np")),
            "query_id",
        )
        .select("query_id", (F.col("nf") == F.col("np")).alias("top1_match"))
    )
    return (
        top1.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("hits", F.lit(0).cast("bigint")).alias("hits"),
            (
                F.coalesce("hits", F.lit(0).cast("bigint")).cast("double")
                / F.lit(float(TOPK))
            ).alias("agreement"),
            "top1_match",
        )
    )


def _duck_dot_n(a: str, b: str, n: int) -> str:
    return _duck_fold_sum(f"list_transform(range(1, {n}+1), i -> {a}[i] * {b}[i])")


ORACLE_SQL["emb_matryoshka_eval"] = f"""
    WITH vecs AS (
        SELECT vec_id, {_DUCK_V} AS v, {_DUCK_NORM} AS nrm,
               {_DUCK_V}[1:{MRL_DIMS}] AS pv,
               sqrt({_duck_fold_sum(f'list_transform({_DUCK_V}[1:{MRL_DIMS}], x -> x*x)')}) AS pn
        FROM embeddings
    ), full_top AS (
        SELECT query_id, neighbor_id, rank FROM (
            SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_duck_dot('q.v', 't.v')} / (q.nrm * t.nrm) DESC,
                                t.vec_id) AS rank
            FROM vecs q JOIN vecs t ON t.vec_id <> q.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ) WHERE rank <= {TOPK}
    ), pre_top AS (
        SELECT query_id, neighbor_id, rank FROM (
            SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_duck_dot_n('q.pv', 't.pv', MRL_DIMS)} / (q.pn * t.pn) DESC,
                                t.vec_id) AS rank
            FROM vecs q JOIN vecs t ON t.vec_id <> q.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ) WHERE rank <= {TOPK}
    ), hits AS (
        SELECT f.query_id, count(*) AS hits
        FROM full_top f JOIN pre_top p
          ON p.query_id = f.query_id AND p.neighbor_id = f.neighbor_id
        GROUP BY 1
    )
    SELECT t1.query_id, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
           CAST(CAST(COALESCE(h.hits, 0) AS BIGINT) AS DOUBLE) / {float(TOPK)}
               AS agreement,
           t1.nf = t1.np AS top1_match
    FROM (
        SELECT f.query_id, f.neighbor_id AS nf, p.neighbor_id AS np
        FROM full_top f JOIN pre_top p USING (query_id)
        WHERE f.rank = 1 AND p.rank = 1
    ) t1
    LEFT JOIN hits h USING (query_id)
"""


N_TRIPLET_ANCHORS = 20


def emb_triplet_mining(spark, sf_dir, n_anchors: int = N_TRIPLET_ANCHORS):
    """Contrastive triplet construction over the labeled embedding
    corpus (FaceNet batch-hard mining, Schroff CVPR'15): for each
    anchor (vec_id < n_anchors) emit its HARDEST positive (same label,
    LOWEST cosine — the in-class example the encoder struggles most to
    pull in) and HARDEST negative (different label, HIGHEST cosine —
    the impostor closest to crossing the boundary), plus the margin
    pos_cos - neg_cos. A negative margin marks a violating triplet —
    the rows a contrastive fine-tune feeds first.

    Scale shape: the anchor batch is broadcast (guarded by
    MAX_BRUTE_FORCE_QUERIES, same discipline as ann_cosine_topk) and
    the corpus streams ONCE into _batch_hard, whose map-side extremes
    keep the |anchors| x |corpus| scored set out of the shuffle.
    Anchors whose label has no other member surface NULL positives
    rather than vanishing."""
    if n_anchors > MAX_BRUTE_FORCE_QUERIES:
        raise ValueError(
            f"emb_triplet_mining broadcasts the anchor batch; "
            f"n_anchors={n_anchors} exceeds MAX_BRUTE_FORCE_QUERIES="
            f"{MAX_BRUTE_FORCE_QUERIES}. Mine per-shard batches instead "
            "(emb_triplet_mining_sharded — full-corpus anchors, cost "
            "n x batch, no broadcast bound)."
        )
    # one materialization feeds the anchor slice and the corpus side
    vecs = _vectors(spark, sf_dir, "label").localCheckpoint(eager=True)
    anchors = _anchor_side(vecs.where(F.col("vec_id") < n_anchors))
    # no every-anchor rejoin: an anchor is scored against the whole
    # corpus, and the oracle keeps exactly the anchors that have pairs
    return _batch_hard(F.broadcast(anchors).crossJoin(vecs))


ORACLE_SQL["emb_triplet_mining"] = f"""
    WITH vecs AS (
        SELECT vec_id, label, {_DUCK_V} AS v, {_DUCK_NORM} AS nrm
        FROM embeddings
    ), scored AS (
        SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
               t.vec_id AS vec_id, t.label = a.label AS same,
               {_duck_dot('a.v', 't.v')} / (a.nrm * t.nrm) AS cos
        FROM vecs a JOIN vecs t ON t.vec_id <> a.vec_id
        WHERE a.vec_id < {N_TRIPLET_ANCHORS}
    ), pos AS (
        SELECT anchor_id, vec_id, cos, row_number() OVER (
            PARTITION BY anchor_id ORDER BY cos ASC, vec_id ASC) AS rk
        FROM scored WHERE same
    ), neg AS (
        SELECT anchor_id, vec_id, cos, row_number() OVER (
            PARTITION BY anchor_id ORDER BY cos DESC, vec_id ASC) AS rk
        FROM scored WHERE NOT same
    )
    SELECT a.anchor_id, a.anchor_label,
           p.vec_id AS pos_id, n.vec_id AS neg_id,
           round(p.cos, 6) AS pos_cos, round(n.cos, 6) AS neg_cos,
           round(p.cos - n.cos, 6) AS margin
    FROM (SELECT DISTINCT anchor_id, anchor_label FROM scored) a
    LEFT JOIN pos p ON p.anchor_id = a.anchor_id AND p.rk = 1
    LEFT JOIN neg n ON n.anchor_id = a.anchor_id AND n.rk = 1
"""


TRIPLET_BATCH_SIZE = 64


def emb_triplet_mining_sharded(spark, sf_dir):
    """Full-corpus batch-hard triplet mining — the sharded path the
    brute entry's guard points at. emb_triplet_mining broadcasts its
    anchor slice and scores it against the WHOLE corpus, so its cost is
    |anchors| x |corpus| and the guard caps anchors at
    MAX_BRUTE_FORCE_QUERIES. This entry is the training regime Schroff
    (CVPR'15) actually describes: EVERY corpus vector is an anchor, and
    'hardest' means hardest WITHIN THE ANCHOR'S MINI-BATCH — anchors
    are partitioned into contiguous TRIPLET_BATCH_SIZE blocks
    (batch_id = vec_id div B; at 100 TB the batch COUNT grows with the
    corpus while per-batch cost stays B^2, so total cost is n x B,
    linear), each batch self-joins on batch_id (co-partitioned, one
    corpus shuffle per side, pairs never leave their partition), and
    the per-anchor extremes are _batch_hard's, as in the brute form.

    NULL contract (superset of the brute form's): an anchor whose batch
    holds no other member of its label gets a NULL positive; an anchor
    whose batch is single-label gets a NULL negative; margin is NULL
    when either side is. Rows are never dropped."""
    vecs = _vectors(spark, sf_dir, "label")
    batched = vecs.select(
        "vec_id", "label", "v", "nrm",
        # floor, not cast: cast truncates toward zero, so a negative
        # vec_id would land in a different batch than the oracle's
        # floor() (r10 review)
        F.floor(F.col("vec_id") / TRIPLET_BATCH_SIZE).cast("long")
        .alias("batch_id"),
    ).localCheckpoint(eager=True)  # both join sides read it
    anchors = _anchor_side(batched, "batch_id")
    # lone-vector batches (no pair rows at all) still owe a NULL row
    return _batch_hard(anchors.join(batched, "batch_id"), ("batch_id",),
                       anchors=anchors)


ORACLE_SQL["emb_triplet_mining_sharded"] = f"""
    WITH vecs AS (
        SELECT vec_id, label, {_DUCK_V} AS v, {_DUCK_NORM} AS nrm,
               CAST(floor(vec_id / {TRIPLET_BATCH_SIZE}) AS BIGINT)
                   AS batch_id
        FROM embeddings
    ), scored AS (
        SELECT a.batch_id, a.vec_id AS anchor_id, a.label AS anchor_label,
               t.vec_id AS vec_id, t.label = a.label AS same,
               {_duck_dot('a.v', 't.v')} / (a.nrm * t.nrm) AS cos
        FROM vecs a JOIN vecs t
          ON t.batch_id = a.batch_id AND t.vec_id <> a.vec_id
    ), pos AS (
        SELECT anchor_id, vec_id, cos, row_number() OVER (
            PARTITION BY anchor_id ORDER BY cos ASC, vec_id ASC) AS rk
        FROM scored WHERE same
    ), neg AS (
        SELECT anchor_id, vec_id, cos, row_number() OVER (
            PARTITION BY anchor_id ORDER BY cos DESC, vec_id ASC) AS rk
        FROM scored WHERE NOT same
    )
    SELECT a.vec_id AS anchor_id, a.label AS anchor_label, a.batch_id,
           p.vec_id AS pos_id, n.vec_id AS neg_id,
           round(p.cos, 6) AS pos_cos, round(n.cos, 6) AS neg_cos,
           round(p.cos - n.cos, 6) AS margin
    FROM vecs a
    LEFT JOIN pos p ON p.anchor_id = a.vec_id AND p.rk = 1
    LEFT JOIN neg n ON n.anchor_id = a.vec_id AND n.rk = 1
"""


def emb_triplet_mining_cells(spark, sf_dir):
    """Per-IVF-cell approximate batch-hard triplet mining — the
    practitioner shape: instead of contiguous-id mini-batches
    (emb_triplet_mining_sharded), each anchor mines within its IVF
    CELL, so negatives are semantically close by construction (the
    impostors an ANN index would actually retrieve — hard-negative
    mining over the index structure, the reason production pipelines
    keep the quantizer around between searches). Approximate: an
    anchor whose true hardest negative lives in another cell misses
    it — the same bounded-candidate tradeoff dedup_semantic_cells
    documents, and why this is 'approximate batch-hard'.

    Same engine shape as the sharded form: assign_cells, ONE
    co-partitioned self-join on cell_id, _batch_hard extremes. Cost
    bounded by cell occupancy (at 100 TB the
    quantizer is trained so cells are balanced; a skewed cell is AQE's
    skew-join case). NULL contract identical to the sharded form,
    per-cell."""
    assigned = assign_cells(_vectors(spark, sf_dir, "label")).localCheckpoint(
        eager=True)  # both join sides read it
    anchors = _anchor_side(assigned, "cell_id")
    return _batch_hard(anchors.join(assigned, "cell_id"), ("cell_id",),
                       anchors=anchors)


ORACLE_SQL["emb_triplet_mining_cells"] = f"""
    WITH base AS (
        SELECT vec_id, label, {_DUCK_V} AS v, {_DUCK_NORM} AS nrm
        FROM embeddings
    ), vecs AS (
        SELECT vec_id, label, v, nrm,
               CAST(list_position(dots, list_max(dots)) AS BIGINT)
                   AS cell_id
        FROM (SELECT vec_id, label, v, nrm, {_DUCK_CENT_DOTS} AS dots
              FROM base)
    ), scored AS (
        SELECT a.cell_id, a.vec_id AS anchor_id, a.label AS anchor_label,
               t.vec_id AS vec_id, t.label = a.label AS same,
               {_duck_dot('a.v', 't.v')} / (a.nrm * t.nrm) AS cos
        FROM vecs a JOIN vecs t
          ON t.cell_id = a.cell_id AND t.vec_id <> a.vec_id
    ), pos AS (
        SELECT anchor_id, vec_id, cos, row_number() OVER (
            PARTITION BY anchor_id ORDER BY cos ASC, vec_id ASC) AS rk
        FROM scored WHERE same
    ), neg AS (
        SELECT anchor_id, vec_id, cos, row_number() OVER (
            PARTITION BY anchor_id ORDER BY cos DESC, vec_id ASC) AS rk
        FROM scored WHERE NOT same
    )
    SELECT a.vec_id AS anchor_id, a.label AS anchor_label, a.cell_id,
           p.vec_id AS pos_id, n.vec_id AS neg_id,
           round(p.cos, 6) AS pos_cos, round(n.cos, 6) AS neg_cos,
           round(p.cos - n.cos, 6) AS margin
    FROM vecs a
    LEFT JOIN pos p ON p.anchor_id = a.vec_id AND p.rk = 1
    LEFT JOIN neg n ON n.anchor_id = a.vec_id AND n.rk = 1
"""


def dedup_semantic_cells(spark, sf_dir):
    """Semantic dedup over embedding clusters (SemDeDup, Abbas et al.
    2023, arXiv:2303.09540): cluster FIRST, then prune near-duplicates
    WITHIN cells only — the published 100 TB semantic-dedup recipe.
    LSH candidate generation (dedup_embedding_cosine) depends on
    collision luck; here the candidate set is bounded by cell occupancy
    by construction. The price is the documented SemDeDup miss class —
    near-dups that straddle a cell boundary — acceptable when the
    quantizer is trained (kmeans.train is the trainer; the fixed
    CENTROID literals stand in for its output exactly as in
    ann_ivf_topk).

    Steps: assign_cells (seeded centroids, single probe) ->
    _near_dup_pairs -> keep-first (_semantic_dedup), the same
    single-hop contract as dedup_embedding_cosine.

    Output: (vec_id, cluster_id, canonical_id, is_duplicate).
    """
    return _semantic_dedup(
        assign_cells(_vectors(spark, sf_dir)).localCheckpoint(eager=True))


def dedup_semantic_cells_mp(spark, sf_dir):
    """Multi-probe semantic dedup — closes SemDeDup's documented miss
    class. dedup_semantic_cells keys the pair join on the single argmax
    cell, so a near-dup pair STRADDLING a cell boundary is
    unrepresentable in the plan (the acknowledged SemDeDup residual,
    Abbas et al. 2023). The standard mitigation is multi-probe
    assignment (the multi-probe LSH idea, Lv et al. VLDB'07, applied to
    the IVF quantizer): each vector candidates under its TOP-2 cells
    (assign_cells with multi_probe; rule in _top2_cells), so a boundary
    pair meets in whichever cell is second-best for one side. Cost is
    2x candidate rows — still bounded by cell occupancy, never a
    cross-cell cartesian. Same steps and output schema as
    dedup_semantic_cells (cluster_id = the PRIMARY cell)."""
    return _semantic_dedup(
        assign_cells(_vectors(spark, sf_dir), multi_probe=True)
        .localCheckpoint(eager=True))  # probes + both verify sides read it


ORACLE_SQL["dedup_semantic_cells_mp"] = f"""
    WITH vecs AS (
        SELECT vec_id, {_DUCK_V} AS v, {_DUCK_NORM} AS nrm FROM embeddings
    ), assigned AS (
        SELECT vec_id, v, nrm, dots,
               CAST(list_position(dots, list_max(dots)) AS BIGINT)
                   AS cluster_id
        FROM (SELECT vec_id, v, nrm, {_DUCK_CENT_DOTS} AS dots FROM vecs)
    ), probes AS (
        -- rank rule (dot DESC, cell ASC) == the Spark mask-then-argmax
        SELECT vec_id, CAST(ci AS BIGINT) AS probe_cell FROM (
            SELECT vec_id, ci, row_number() OVER (
                PARTITION BY vec_id ORDER BY dots[ci] DESC, ci ASC) AS rk
            FROM (SELECT vec_id, dots,
                         unnest(range(1, {N_CENTROIDS} + 1)) AS ci
                  FROM assigned)
        ) WHERE rk <= {SEM_PROBES}
    ), cand AS (
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
    SELECT a.vec_id, a.cluster_id,
           least(a.vec_id, coalesce(pm.min_partner, a.vec_id))
               AS canonical_id,
           least(a.vec_id, coalesce(pm.min_partner, a.vec_id)) <> a.vec_id
               AS is_duplicate
    FROM assigned a LEFT JOIN pm ON pm.vec_id = a.vec_id
"""


def sem_probe_eval(spark, sf_dir):
    """Multi-probe quality census — the tuning signal for SEM_PROBES:
    of all VERIFIED near-dup pairs reachable under top-2 probing, how
    many does single-probe (primary-cell-only) assignment catch, and
    how many are boundary pairs it structurally misses? The derived-
    metric pattern of dedup_lsh_eval / ann_recall_eval applied to the
    semantic family: a practitioner reads boundary_share to decide
    whether the 2x candidate cost of multi-probe pays for their
    quantizer (reference anchor: evaluates the same keep-first dedup
    family, postgres_audit_repository.py:68-70).

    Steps: assign_cells (multi-probe) -> _near_dup_pairs carrying
    same_primary -> one global aggregate (_probe_census), ending in a
    1-row frame; single-caught is derivable per pair (primary(a) ==
    primary(b)), so no second pipeline runs."""
    return _probe_census(
        assign_cells(_vectors(spark, sf_dir), multi_probe=True)
        .localCheckpoint(eager=True))  # probes + verify sides read it


ORACLE_SQL["sem_probe_eval"] = f"""
    WITH vecs AS (
        SELECT vec_id, {_DUCK_V} AS v, {_DUCK_NORM} AS nrm FROM embeddings
    ), assigned AS (
        SELECT vec_id, v, nrm, dots,
               CAST(list_position(dots, list_max(dots)) AS BIGINT) AS prim
        FROM (SELECT vec_id, v, nrm, {_DUCK_CENT_DOTS} AS dots FROM vecs)
    ), probes AS (
        SELECT vec_id, prim, CAST(ci AS BIGINT) AS probe_cell FROM (
            SELECT vec_id, prim, ci, row_number() OVER (
                PARTITION BY vec_id ORDER BY dots[ci] DESC, ci ASC) AS rk
            FROM (SELECT vec_id, prim, dots,
                         unnest(range(1, {N_CENTROIDS} + 1)) AS ci
                  FROM assigned)
        ) WHERE rk <= {SEM_PROBES}
    ), cand AS (
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
           CAST(sum(CASE WHEN same_primary THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pairs_single,
           CAST(count(*) - sum(CASE WHEN same_primary THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boundary_pairs,
           CASE WHEN count(*) > 0 THEN
               round(CAST(count(*) - sum(CASE WHEN same_primary
                                         THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6)
           END AS boundary_share
    FROM verified
"""


INC_VEC_BATCH_MOD = 10  # scrambled vec_id % 10 == 0 -> the "new batch"


def inc_semantic_dedup(spark, sf_dir):
    """Incremental semantic dedup: an ARRIVING embedding batch
    classified against the indexed corpus within IVF cells — the
    skip-re-embedding / skip-re-training signal a continuously-
    ingesting pipeline needs, and the incremental twin of
    dedup_semantic_cells exactly as inc_dedup_merge twins the LSH
    dedup and inc_chunk_dedup twins chunk dedup.

    Steps: assign_cells -> split_arrivals (the scrambled 10% batch vs
    the index) -> classify_semantic_batch. At 100 TB the index is a
    cell-bucketed table (the ann_ivf_topk layout) and the classify join
    is a bucket-pruned probe. Each batch vector gets is_dup + its
    canonical (min matching index id, or itself)."""
    assigned = assign_cells(_vectors(spark, sf_dir)).localCheckpoint(
        eager=True)  # batch + index slices read it once
    return classify_semantic_batch(*split_arrivals(assigned))


ORACLE_SQL["inc_semantic_dedup"] = f"""
    WITH base AS (
        SELECT vec_id, {_DUCK_V} AS v, {_DUCK_NORM} AS nrm FROM embeddings
    ), assigned AS (
        SELECT vec_id, v, nrm,
               CAST(list_position(dots, list_max(dots)) AS BIGINT)
                   AS cell_id,
               {scrambled_bucket_sql('vec_id', INC_VEC_BATCH_MOD)} = 0
                   AS is_batch
        FROM (SELECT vec_id, v, nrm, {_DUCK_CENT_DOTS} AS dots FROM base)
    ), matches AS (
        SELECT b.vec_id, MIN(i.vec_id) AS min_idx
        FROM assigned b JOIN assigned i
          ON i.cell_id = b.cell_id AND NOT i.is_batch
        WHERE b.is_batch
          AND round({_duck_dot('b.v', 'i.v')} / (b.nrm * i.nrm), 6)
              >= {NEAR_DUP_THRESHOLD}
        GROUP BY b.vec_id
    )
    SELECT a.vec_id,
           m.min_idx IS NOT NULL AS is_dup,
           coalesce(m.min_idx, a.vec_id) AS canonical_id
    FROM assigned a LEFT JOIN matches m ON m.vec_id = a.vec_id
    WHERE a.is_batch
"""


def inc_semantic_dedup_mp(spark, sf_dir):
    """Multi-probe incremental semantic dedup: inc_semantic_dedup with
    the ARRIVING side probing its top-2 cells, closing the same
    boundary-miss class dedup_semantic_cells_mp closes for the batch
    entry: an arrival whose primary cell differs from its near-dup's
    index cell is invisible to the single-probe join by construction,
    but its SECOND-best cell is the index vector's primary, so the
    multi-probe join finds it (planted straddle fixture in
    test_degenerate_parity.py). Cost: exactly 2x the probed-cell
    occupancy per arrival (see classify_semantic_batch)."""
    assigned = assign_cells(
        _vectors(spark, sf_dir), multi_probe=True
    ).localCheckpoint(eager=True)  # batch + index slices read it once
    return classify_semantic_batch(*split_arrivals(assigned))


ORACLE_SQL["inc_semantic_dedup_mp"] = f"""
    WITH base AS (
        SELECT vec_id, {_DUCK_V} AS v, {_DUCK_NORM} AS nrm FROM embeddings
    ), assigned AS (
        SELECT vec_id, v, nrm, dots,
               CAST(list_position(dots, list_max(dots)) AS BIGINT)
                   AS cell_id,
               {scrambled_bucket_sql('vec_id', INC_VEC_BATCH_MOD)} = 0
                   AS is_batch
        FROM (SELECT vec_id, v, nrm, {_DUCK_CENT_DOTS} AS dots FROM base)
    ), probes AS (
        -- arriving side only; rank rule == the Spark mask-then-argmax
        SELECT vec_id, CAST(ci AS BIGINT) AS cell FROM (
            SELECT vec_id, ci, row_number() OVER (
                PARTITION BY vec_id ORDER BY dots[ci] DESC, ci ASC) AS rk
            FROM (SELECT vec_id, dots,
                         unnest(range(1, {N_CENTROIDS} + 1)) AS ci
                  FROM assigned WHERE is_batch)
        ) WHERE rk <= {SEM_PROBES}
    ), matches AS (
        SELECT p.vec_id, MIN(i.vec_id) AS min_idx
        FROM probes p
        JOIN assigned b ON b.vec_id = p.vec_id
        JOIN assigned i ON i.cell_id = p.cell AND NOT i.is_batch
        WHERE round({_duck_dot('b.v', 'i.v')} / (b.nrm * i.nrm), 6)
              >= {NEAR_DUP_THRESHOLD}
        GROUP BY p.vec_id
    )
    SELECT a.vec_id,
           m.min_idx IS NOT NULL AS is_dup,
           coalesce(m.min_idx, a.vec_id) AS canonical_id
    FROM assigned a LEFT JOIN matches m ON m.vec_id = a.vec_id
    WHERE a.is_batch
"""


ORACLE_SQL["dedup_semantic_cells"] = f"""
    WITH vecs AS (
        SELECT vec_id, {_DUCK_V} AS v, {_DUCK_NORM} AS nrm FROM embeddings
    ), assigned AS (
        SELECT vec_id, v, nrm,
               CAST(list_position(dots, list_max(dots)) AS BIGINT)
                   AS cluster_id
        FROM (SELECT vec_id, v, nrm, {_DUCK_CENT_DOTS} AS dots FROM vecs)
    ), pairs AS (
        SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
        FROM assigned x JOIN assigned y
          ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
        WHERE round({_duck_dot('x.v', 'y.v')} / (x.nrm * y.nrm), 6)
              >= {NEAR_DUP_THRESHOLD}
    ), pm AS (
        SELECT vec_b AS vec_id, MIN(vec_a) AS min_partner
        FROM pairs GROUP BY vec_b
    )
    SELECT a.vec_id, a.cluster_id,
           least(a.vec_id, coalesce(pm.min_partner, a.vec_id))
               AS canonical_id,
           least(a.vec_id, coalesce(pm.min_partner, a.vec_id)) <> a.vec_id
               AS is_duplicate
    FROM assigned a LEFT JOIN pm ON pm.vec_id = a.vec_id
"""


QUERIES = {
    "search_hybrid_rerank": search_hybrid_rerank,
    "emb_matryoshka_eval": emb_matryoshka_eval,
    "emb_triplet_mining": emb_triplet_mining,
    "emb_triplet_mining_sharded": emb_triplet_mining_sharded,
    "emb_triplet_mining_cells": emb_triplet_mining_cells,
    "ann_cosine_topk": ann_cosine_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_ivf_pq_topk": ann_ivf_pq_topk,
    "ann_pq_recall_eval": ann_pq_recall_eval,
    "semantic_search_topk": semantic_search_topk,
    "sim_knn_graph": sim_knn_graph,
    "sim_cosine_pairs_lsh": sim_cosine_pairs_lsh,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_semantic_cells": dedup_semantic_cells,
    "dedup_semantic_cells_mp": dedup_semantic_cells_mp,
    "sem_probe_eval": sem_probe_eval,
    "inc_semantic_dedup": inc_semantic_dedup,
    "inc_semantic_dedup_mp": inc_semantic_dedup_mp,
    "dedup_components": dedup_components,
    "dedup_components_bigstar": dedup_components_bigstar,
    "dedup_cluster_census": dedup_cluster_census,
    "emb_quantize_int8": emb_quantize_int8,
    "ann_recall_eval": ann_recall_eval,
    "emb_dim_stats": emb_dim_stats,
    "emb_pq_census": emb_pq_census,
}
