"""Approximate-quantile sketch profiling (extension; companion to the
HLL-sketch family in analytics.approx_distinct_*_sketch).

The 100 TB way to get percentiles is a mergeable rank sketch
(Greenwald-Khanna / KLL), never a sort: ``percentile_approx`` with
accuracy A guarantees rank error <= n/A, the aggregate is map-side
combinable, and the shuffle carries |groups| fixed-size summaries. The
sketch VALUES are engine-specific, so (same derived-oracle pattern as
approx_distinct_users_sketch, VERDICT r6 task 4) the driver-checked
frame carries the exact-checkable group keys + row counts plus
rank-error-bound booleans computed in-plan: each sketched quantile must
lie inside the exact-percentile envelope [p - 1.5/A, p + 1.5/A] (the
published GK bound with 50% margin). The exact envelope is computed
in-plan at test scale; a production run would trust the bound — the
point of the sketch is that the exact check is unaffordable there.

Reference parity note: the reference's profiling is exact KPI counts
(ui/audit_dashboard.py:50-97); quantile profiling is an extension of
its data-quality surface re-expressed sketch-first for scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.parquet import fan_out, load_table

QUANTILES = [0.25, 0.5, 0.75, 0.95]
ACCURACY = 1000  # rank error <= n / ACCURACY
_EPS = 1.5 / ACCURACY


def approx_quantile_sketch(spark, sf_dir):
    """Per-returnflag price quantiles from the rank sketch, gated by
    the exact envelope. Output: l_returnflag, n_rows (exact, oracle-
    recomputed), within_bounds_q{25,50,75,95} booleans (oracle: TRUE)."""
    li = fan_out(spark, load_table(spark, sf_dir, "lineitem"))
    lo = [max(0.0, p - _EPS) for p in QUANTILES]
    hi = [min(1.0, p + _EPS) for p in QUANTILES]
    arr = "array(" + ",".join(repr(p) for p in QUANTILES) + ")"
    lo_a = "array(" + ",".join(repr(p) for p in lo) + ")"
    hi_a = "array(" + ",".join(repr(p) for p in hi) + ")"
    agg = (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.expr(
                f"approx_percentile(l_extendedprice, {arr}, {ACCURACY})"
            ).alias("qa"),
            F.expr(f"percentile(l_extendedprice, {lo_a})").alias("qlo"),
            F.expr(f"percentile(l_extendedprice, {hi_a})").alias("qhi"),
        )
    )
    cols = [F.col("l_returnflag"), F.col("n_rows")]
    # Small-group guard (r8 review, widened r9 advice): the sketch
    # returns an ACTUAL data value while the exact percentile
    # INTERPOLATES, so the [p-1.5ε, p+1.5ε] envelope only provably
    # brackets a GK value (rank error <= εn, ε = 1/ACCURACY) when the
    # 0.5εn rank margin is itself >= 1 rank, i.e. n >= 2/ε — below
    # that, clustered values can still flakily escape the interpolated
    # bound (2 rows of {1, 100}: envelope ~[50.3, 50.7]). Guard on the
    # BASE error ε (not the 1.5ε envelope width — r9 review: using
    # _EPS here left groups of 1334-1999 rows with a sub-1-rank margin
    # unguarded), passing tiny groups by size — the same
    # scale-insensitivity discipline as kmeans' relative tolerance.
    tiny = F.col("n_rows") * F.lit(1.0 / ACCURACY) < F.lit(2.0)
    for i, p in enumerate(QUANTILES, start=1):
        ok = (
            (F.element_at("qa", i) >= F.element_at("qlo", i))
            & (F.element_at("qa", i) <= F.element_at("qhi", i))
        ) | tiny
        cols.append(ok.alias(f"within_bounds_q{int(p * 100)}"))
    return agg.select(*cols).orderBy("l_returnflag")


GRID_N = 40  # per-shard equi-depth grid resolution (41 quantile points)
# Per-shard rank-error fraction of the merged CDF: grid quantization
# (1/GRID_N, the step between persisted grid points) + the GK sketch's
# own bound (1/ACCURACY). The merge sums these across shards, so the
# merged estimate's rank error is <= BASE_ERR * n_total.
_BASE_ERR = 1.0 / GRID_N + 1.0 / ACCURACY
_EPS_MERGE = 1.5 * _BASE_ERR  # published bound + 50% margin (cf. _EPS)


def _shard_cdf(li):
    """(shard, cdf): the per-(l_returnflag, ship-month) shard summaries
    — exact count ``sn`` + the 41-point approx_percentile grid ``g`` —
    and their merged per-flag weighted CDF (v, w, cw). Right-endpoint
    points: each grid value g[j] (j>=1) weighs sn/GRID_N, so the
    cumulative weight at g[j] is exactly j*sn/GRID_N, the sketch's rank
    estimate for g[j]. Sketch-sized: |shards| x 41 rows, never raw
    data."""
    from pyspark.sql.window import Window

    grid = [j / GRID_N for j in range(GRID_N + 1)]
    grid_a = "array(" + ",".join(repr(p) for p in grid) + ")"
    shard = li.groupBy(
        "l_returnflag", F.trunc("l_shipdate", "month").alias("shard_month")
    ).agg(
        F.count("*").cast("double").alias("sn"),
        F.expr(
            f"approx_percentile(l_extendedprice, {grid_a}, {ACCURACY})"
        ).alias("g"),
    )
    pts = shard.select(
        "l_returnflag",
        F.explode(F.expr(
            f"transform(sequence(1, {GRID_N}), "
            f"j -> struct(CAST(element_at(g, j + 1) AS DOUBLE) AS v, "
            f"sn / {GRID_N} AS w))"
        )).alias("pt"),
    ).select("l_returnflag", F.col("pt.v").alias("v"), F.col("pt.w").alias("w"))
    cum = Window.partitionBy("l_returnflag").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0)
    cdf = pts.withColumn("cw", F.sum("w").over(cum))
    return shard, cdf


def _merge_cdf(cdf, tot, prefix: str, *keys: str):
    """Merged p-quantile per flag for every p in QUANTILES, named
    <prefix><pct>: the smallest grid value whose cumulative weight
    reaches p * n_rows. ``tot``: (l_returnflag, n_rows, *keys), joined
    as a broadcast and kept as group keys."""
    sel = [
        F.min(
            F.when(
                F.col("cw") >= F.col("n_rows") * F.lit(p) - F.lit(1e-6),
                F.col("v"),
            )
        ).alias(f"{prefix}{int(p * 100)}")
        for p in QUANTILES
    ]
    return cdf.join(F.broadcast(tot), "l_returnflag").groupBy(
        "l_returnflag", "n_rows", *keys).agg(*sel)


def approx_quantile_rollup(spark, sf_dir):
    """Shard-merge consistency for rank sketches — the HLL
    rollup-consistency treatment (analytics.approx_distinct_rollup,
    VERDICT r7) applied to quantiles. At 100 TB a pipeline persists one
    compact quantile summary PER SHARD (per day / per source) and
    answers any rollup from the summaries alone; Spark does not expose
    percentile sketch bytes for re-aggregation, so the mergeable
    summary here is the classic equi-depth grid: per
    (l_returnflag, ship-month) shard, approx_percentile at 41 evenly
    spaced ranks + the exact shard count.

    Merge (all sketch-sized: |shards| x 41 rows, never raw data): each
    grid point g[j] (j>=1) becomes a weighted CDF point of weight
    sn/GRID_N, so the cumulative weight at g[j] is j*sn/GRID_N — the
    sketch's own rank estimate for g[j]; summing the per-shard step
    functions estimates the GLOBAL rank of any value with error
    <= (1/GRID_N + 1/ACCURACY) * n_total. The merged p-quantile is the
    smallest grid value whose cumulative weight reaches p * n_total.

    Driver-checkable contract (same derived-oracle pattern as
    approx_quantile_sketch): exact group keys + row counts, plus
    booleans asserting the MERGED estimate lies inside the exact
    whole-data percentile envelope [p - 1.5*BASE_ERR, p + 1.5*BASE_ERR]
    (computed in-plan at test scale; production trusts the bound).
    Small-group guard mirrors the sketch entry: the interpolated exact
    envelope only provably brackets an actual grid value when the 0.5*
    BASE_ERR*n rank margin is >= ~2 ranks."""
    li = fan_out(spark, load_table(spark, sf_dir, "lineitem"))
    cdf = _shard_cdf(li)[1]
    lo = [max(0.0, p - _EPS_MERGE) for p in QUANTILES]
    hi = [min(1.0, p + _EPS_MERGE) for p in QUANTILES]
    lo_a = "array(" + ",".join(repr(p) for p in lo) + ")"
    hi_a = "array(" + ",".join(repr(p) for p in hi) + ")"
    tot = li.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.expr(f"percentile(l_extendedprice, {lo_a})").alias("qlo"),
        F.expr(f"percentile(l_extendedprice, {hi_a})").alias("qhi"),
    )
    merged = _merge_cdf(cdf, tot, "mq", "qlo", "qhi")
    tiny = F.col("n_rows") * F.lit(0.5 * _BASE_ERR) < F.lit(2.0)
    cols = [F.col("l_returnflag"), F.col("n_rows")]
    for i, p in enumerate(QUANTILES, start=1):
        mq = F.col(f"mq{int(p * 100)}")
        ok = (
            (mq >= F.element_at("qlo", i)) & (mq <= F.element_at("qhi", i))
        ) | tiny
        cols.append(ok.alias(f"rollup_within_q{int(p * 100)}"))
    return merged.select(*cols).orderBy("l_returnflag")


def approx_quantile_rollup_raw(spark, sf_dir):
    """The PRODUCTION form of approx_quantile_rollup: per-shard grids
    merged to per-flag quantiles with NO exact percentile anywhere in
    the plan — the shuffle carries |shards| 41-point summaries, then
    |flags| merged rows; this is everything a pipeline persisting
    per-day sketches would run. Values are grid-quantized, so this raw
    form is test-pinned (no-exact-aggregate plan + monotone quantiles,
    tests/test_approx.py); the registry entry is the derived-oracle
    gate above (same pattern as approx_distinct_rollup_sketch_raw)."""
    shard, cdf = _shard_cdf(
        fan_out(spark, load_table(spark, sf_dir, "lineitem")))
    tot = shard.groupBy("l_returnflag").agg(
        F.sum("sn").cast("bigint").alias("n_rows"))
    return _merge_cdf(cdf, tot, "q").orderBy("l_returnflag")


QUERIES = {
    "approx_quantile_sketch": approx_quantile_sketch,
    "approx_quantile_rollup": approx_quantile_rollup,
}

ORACLE_SQL = {
    "approx_quantile_sketch": """
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_rows,
               TRUE AS within_bounds_q25,
               TRUE AS within_bounds_q50,
               TRUE AS within_bounds_q75,
               TRUE AS within_bounds_q95
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "approx_quantile_rollup": """
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_rows,
               TRUE AS rollup_within_q25,
               TRUE AS rollup_within_q50,
               TRUE AS rollup_within_q75,
               TRUE AS rollup_within_q95
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
}
