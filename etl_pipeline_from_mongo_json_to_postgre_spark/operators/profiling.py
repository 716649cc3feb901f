"""Data-quality profiling operators (pipeline-hygiene extension family).

The reference surfaces per-run audit KPIs (ui/audit_dashboard.py:100-224:
row counts, status breakdowns, missing-column reports); the natural
engine-side generalization is a column profiler — the first query anyone
runs against a new 100 TB drop.

Scale shape: ONE aggregation pass computes every per-column statistic
(non-null count, distinct count, min/max) as independent aggregate
expressions, then the single 1-row result is unpivoted driver-side-free
via ``stack`` — no per-column scans, no collect. The exact
``count_distinct`` here forces Catalyst's expand (one shuffle lane per
distinct-agg); the documented production swap at 100 TB is
``approx_count_distinct`` per column, which collapses the expand into
mergeable sketches (cf. analytics.approx_distinct_users_sketch).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.parquet import load_table

# (column, min/max cast) — doubles go through DECIMAL so the stringified
# min/max is formatting-stable across engines; timestamps/bigints cast
# identically in Spark and DuckDB.
_PROFILE_COLS = (
    ("o_orderkey", "string"),
    ("o_custkey", "string"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "decimal(14,2)"),
    ("o_orderdate", "string"),
    ("o_orderpriority", "string"),
)


def dq_column_profile(spark, sf_dir):
    """Per-column profile of the orders table: non-null count, exact
    distinct count, min/max (stringified) — one scan, one aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    aggs = [F.count("*").alias("n_rows")]
    for c, mcast in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            F.count_distinct(c).alias(f"{c}__nd"),
            F.min(c).cast(mcast).cast("string").alias(f"{c}__min"),
            F.max(c).cast(mcast).cast("string").alias(f"{c}__max"),
        ]
    one = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nn, {c}__nd, {c}__min, {c}__max" for c, _ in _PROFILE_COLS
    )
    return one.select(
        "n_rows",
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) "
            "AS (column_name, n_nonnull, n_distinct, min_val, max_val)"
        ),
    ).select("column_name", "n_rows", "n_nonnull", "n_distinct", "min_val", "max_val")


def dq_null_violations(spark, sf_dir):
    """Expectation-style validation counts over events: rows violating
    each declared constraint (null key, non-positive value, unknown
    event type, out-of-range timestamp). FILTER-style conditional
    aggregation — one pass, one tiny result row per constraint via
    stack, the engine twin of the reference's per-document
    validation-error audit (transformer.py error capture)."""
    ev = load_table(spark, sf_dir, "events")
    known = ("click", "view", "purchase", "signup", "error")
    agg = ev.agg(
        F.count("*").alias("n_rows"),
        F.count_if(F.col("user_id").isNull()).alias("null_user"),
        F.count_if(F.col("value") <= 0).alias("nonpos_value"),
        F.count_if(~F.col("event_type").isin(*known)).alias("unknown_type"),
        F.count_if(F.year("ts") < 2000).alias("ts_before_2000"),
    )
    return agg.select(
        F.expr(
            "stack(4, 'null_user', null_user, 'nonpos_value', nonpos_value, "
            "'unknown_type', unknown_type, 'ts_before_2000', ts_before_2000) "
            "AS (constraint_name, violations)"
        ),
        "n_rows",
    ).select("constraint_name", "violations", "n_rows")


ZBUCKET_SHIFT = 26  # 32-bit key >> 26 = 64 census buckets


def zorder_bucket_census(spark, sf_dir):
    """Morton-key clustering census over lineitem (l_partkey,
    l_suppkey): per Z-bucket (top 6 bits of the 32-bit interleaved
    key — 64 census buckets), the row count and both dimensions' min/max spread. This is
    the planning query behind storage.write_zordered — narrow per-
    bucket min/max ranges on BOTH columns are exactly what makes the
    clustered layout skippable (tests/test_zorder.py measures the
    resulting row-group skip rates on real files).

    The whole key is integer shift/mask arithmetic — stays in
    whole-stage codegen, one hash shuffle on the bucket id."""
    from ..storage import morton_key

    l = load_table(spark, sf_dir, "lineitem")
    b = l.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_suppkey"), F.max("l_suppkey"),
    ).collect()[0]  # metadata-scale table stats, same values the oracle's
    # scalar subqueries produce
    z = morton_key(
        F.col("l_partkey"), F.col("l_suppkey"),
        (b[0], b[1]), (b[2], b[3]),
    )
    return (
        l.select(
            F.shiftright(z, ZBUCKET_SHIFT).alias("z_bucket"),
            "l_partkey",
            "l_suppkey",
        )
        .groupBy("z_bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_partkey").alias("pk_min"),
            F.max("l_partkey").alias("pk_max"),
            F.min("l_suppkey").alias("sk_min"),
            F.max("l_suppkey").alias("sk_max"),
        )
    )


def _zorder_census_sql() -> str:
    from ..storage import zorder_sql

    zexpr = zorder_sql(
        "l_partkey", "l_suppkey",
        ("(SELECT min(l_partkey) FROM lineitem)",
         "(SELECT max(l_partkey) FROM lineitem)"),
        ("(SELECT min(l_suppkey) FROM lineitem)",
         "(SELECT max(l_suppkey) FROM lineitem)"),
    )
    return f"""
        SELECT ({zexpr} >> {ZBUCKET_SHIFT})
                   AS z_bucket,
               count(*) AS n_rows,
               min(l_partkey) AS pk_min, max(l_partkey) AS pk_max,
               min(l_suppkey) AS sk_min, max(l_suppkey) AS sk_max
        FROM lineitem GROUP BY 1
    """


CHISQ_SCALE = 1e9  # per-cell quantization -> order-free bigint sum


def dq_chisq_independence(spark, sf_dir):
    """Chi-squared independence test between the documents table's two
    categorical dimensions (lang x source), plus Cramer's V — the
    feature-association check a curation pipeline runs before trusting
    per-language sampling weights (a high V means language and source
    are confounded and per-source quotas silently skew the language
    mix).

    Scale shape: ONE corpus-sized aggregate produces the contingency
    cells; everything after runs on bounded-cardinality frames (row
    totals |langs|, column totals |sources|, full grid |langs x
    sources| via a tiny crossJoin, N as a broadcast one-row frame —
    the scalar-propagation pattern). Per-cell (o-e)^2/e contributions
    are quantized to bigint before the grid-sized SUM, so accumulation
    is order-free across engines."""
    d = load_table(spark, sf_dir, "documents")
    obs = (
        d.groupBy("lang", "source")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)  # feeds totals, grid join, and N
    )
    rl = obs.groupBy("lang").agg(F.sum("cnt").cast("bigint").alias("rl"))
    cs = obs.groupBy("source").agg(F.sum("cnt").cast("bigint").alias("cs"))
    n = obs.agg(F.sum("cnt").cast("bigint").alias("n"))
    cells = (
        rl.crossJoin(cs)  # bounded: |langs| x |sources| grid
        .join(obs, ["lang", "source"], "left")
        .crossJoin(F.broadcast(n))
        .select(
            F.coalesce("cnt", F.lit(0)).cast("bigint").alias("o"),
            (F.col("rl").cast("double") * F.col("cs") / F.col("n")).alias("e"),
        )
    )
    agg = cells.select(
        F.floor(
            (F.col("o") - F.col("e")) * (F.col("o") - F.col("e"))
            / F.col("e") * F.lit(CHISQ_SCALE)
        ).cast("bigint").alias("q")
    ).agg(F.sum("q").cast("bigint").alias("chi2_q"))
    out = (
        agg.crossJoin(F.broadcast(rl.agg(F.count("*").alias("n_langs"))))
        .crossJoin(F.broadcast(cs.agg(F.count("*").alias("n_sources"))))
        .crossJoin(F.broadcast(n))
    )
    chi2 = F.col("chi2_q") / F.lit(CHISQ_SCALE)
    m = F.least(F.col("n_langs") - 1, F.col("n_sources") - 1)
    return out.select(
        F.col("n").alias("n_rows"),
        "n_langs",
        "n_sources",
        ((F.col("n_langs") - 1) * (F.col("n_sources") - 1))
        .cast("bigint").alias("dof"),
        F.round(chi2, 6).alias("chi2"),
        F.round(F.sqrt(chi2 / (F.col("n") * m)), 6).alias("cramers_v"),
    )


ORACLE_SQL = {
    "dq_chisq_independence": f"""
        WITH obs AS (
            SELECT lang, source, count(*) AS cnt
            FROM documents GROUP BY 1, 2
        ), rl AS (
            SELECT lang, CAST(sum(cnt) AS BIGINT) AS rl FROM obs GROUP BY 1
        ), cs AS (
            SELECT source, CAST(sum(cnt) AS BIGINT) AS cs FROM obs GROUP BY 1
        ), n AS (
            SELECT CAST(sum(cnt) AS BIGINT) AS n FROM obs
        ), cells AS (
            SELECT COALESCE(cnt, 0) AS o,
                   CAST(rl AS DOUBLE) * cs / n.n AS e
            FROM rl CROSS JOIN cs
            LEFT JOIN obs USING (lang, source)
            CROSS JOIN n
        ), agg AS (
            SELECT CAST(sum(CAST(floor(
                       (o - e) * (o - e) / e * {CHISQ_SCALE!r}
                   ) AS BIGINT)) AS BIGINT) AS chi2_q
            FROM cells
        )
        SELECT n.n AS n_rows,
               (SELECT count(*) FROM rl) AS n_langs,
               (SELECT count(*) FROM cs) AS n_sources,
               CAST(((SELECT count(*) FROM rl) - 1)
                    * ((SELECT count(*) FROM cs) - 1) AS BIGINT) AS dof,
               round(chi2_q / {CHISQ_SCALE!r}, 6) AS chi2,
               round(sqrt((chi2_q / {CHISQ_SCALE!r})
                          / (n.n * least((SELECT count(*) FROM rl) - 1,
                                         (SELECT count(*) FROM cs) - 1))),
                     6) AS cramers_v
        FROM agg, n
    """,
    "dq_column_profile": """
        WITH src AS (SELECT * FROM orders)
        SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
               count(o_orderkey) AS n_nonnull,
               count(DISTINCT o_orderkey) AS n_distinct,
               CAST(min(o_orderkey) AS VARCHAR) AS min_val,
               CAST(max(o_orderkey) AS VARCHAR) AS max_val FROM src
        UNION ALL
        SELECT 'o_custkey', count(*), count(o_custkey),
               count(DISTINCT o_custkey),
               CAST(min(o_custkey) AS VARCHAR),
               CAST(max(o_custkey) AS VARCHAR) FROM src
        UNION ALL
        SELECT 'o_orderstatus', count(*), count(o_orderstatus),
               count(DISTINCT o_orderstatus),
               CAST(min(o_orderstatus) AS VARCHAR),
               CAST(max(o_orderstatus) AS VARCHAR) FROM src
        UNION ALL
        SELECT 'o_totalprice', count(*), count(o_totalprice),
               count(DISTINCT o_totalprice),
               CAST(CAST(min(o_totalprice) AS DECIMAL(14,2)) AS VARCHAR),
               CAST(CAST(max(o_totalprice) AS DECIMAL(14,2)) AS VARCHAR) FROM src
        UNION ALL
        SELECT 'o_orderdate', count(*), count(o_orderdate),
               count(DISTINCT o_orderdate),
               CAST(min(o_orderdate) AS VARCHAR),
               CAST(max(o_orderdate) AS VARCHAR) FROM src
        UNION ALL
        SELECT 'o_orderpriority', count(*), count(o_orderpriority),
               count(DISTINCT o_orderpriority),
               CAST(min(o_orderpriority) AS VARCHAR),
               CAST(max(o_orderpriority) AS VARCHAR) FROM src
    """,
    "dq_null_violations": """
        WITH agg AS (
            SELECT count(*) AS n_rows,
                   count(*) FILTER (user_id IS NULL) AS null_user,
                   count(*) FILTER (value <= 0) AS nonpos_value,
                   count(*) FILTER (event_type NOT IN
                       ('click','view','purchase','signup','error'))
                       AS unknown_type,
                   count(*) FILTER (year(ts) < 2000) AS ts_before_2000
            FROM events
        )
        SELECT 'null_user' AS constraint_name, null_user AS violations, n_rows FROM agg
        UNION ALL SELECT 'nonpos_value', nonpos_value, n_rows FROM agg
        UNION ALL SELECT 'unknown_type', unknown_type, n_rows FROM agg
        UNION ALL SELECT 'ts_before_2000', ts_before_2000, n_rows FROM agg
    """,
}

HIST_LO = 0.0
HIST_HI = 500.0
HIST_BUCKETS = 20


def dq_histogram(spark, sf_dir):
    """Equi-width histogram of event value per event_type
    (width_bucket semantics: below-range -> bucket 0, above-range ->
    n+1). The profiling companion to approx_value_quantiles when you
    need the full shape, not point quantiles. One hash shuffle carrying
    (type, bucket) counts — map-side combined, bucket census is
    O(types x buckets) regardless of row count."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.width_bucket(
                F.col("value"), F.lit(HIST_LO), F.lit(HIST_HI), F.lit(HIST_BUCKETS)
            ).alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


DEPTH_PROBS = tuple(round(0.1 * i, 1) for i in range(1, 10))  # deciles
SKEW_TOP_K = 20


def dq_histogram_equidepth(spark, sf_dir):
    """Equi-depth (decile) histogram of event value per event_type:
    exact decile boundaries, then a bucket census. The scale-correct
    shape — NEVER a global ntile sort (that single-threads the whole
    table through one sort partition): boundaries are one aggregate per
    type (percentile over the type's values, one shuffle of
    (type, value) pairs), broadcast back type-count-sized, and bucket
    assignment is a pure array expression on the scan. Both engines
    interpolate percentiles identically on identical doubles, so bucket
    edges are bit-equal."""
    ev = load_table(spark, sf_dir, "events")
    probs = "array(" + ", ".join(str(p) for p in DEPTH_PROBS) + ")"
    bounds = ev.groupBy("event_type").agg(
        F.expr(f"percentile(value, {probs})").alias("bnds")
    )
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .select(
            "event_type",
            F.size(F.filter("bnds", lambda b: F.col("value") > b))
            .cast("bigint").alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def dq_key_skew(spark, sf_dir):
    """Join-key skew diagnostic: the SKEW_TOP_K heaviest supplier keys
    in lineitem with each key's share of total rows — the report that
    decides whether a join needs the salting operators (operators/
    skew.py) or AQE's skew split will do. Two map-side-combined
    aggregates (per-key counts; 1-row total) and a top-K window over
    count-sized rows; shares are rounded for cross-engine stability."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_suppkey").agg(F.count("*").alias("cnt"))
    total = li.agg(F.count("*").cast("double").alias("total"))
    # top-K via sort+limit (TakeOrderedAndProject: per-partition local
    # top-K, K-sized merge on one reducer) — NOT a row_number window
    # over every key, which would funnel all key counts through a
    # single unpartitioned window sort; the rank window then runs over
    # K rows only.
    top = counts.orderBy(F.desc("cnt"), F.asc("l_suppkey")).limit(SKEW_TOP_K)
    w = Window.orderBy(F.desc("cnt"), F.asc("l_suppkey"))
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .select(
            "l_suppkey", "cnt", "rk",
            F.round(F.col("cnt") / F.col("total"), 6).alias("share"),
        )
    )


# Heavy ⇔ n_events * DEN * n_users > NUM * n_total, i.e. a user with more
# than NUM/DEN = 1.2x the average event count. RELATIVE, not absolute: the
# testdata generator spreads events near-uniformly over a user population
# that grows with SF (max share 0.088 at sf0.001 but 0.0086 at sf0.01), so
# the old fixed FREQ_SUPPORT=0.02 made the exact heavy set EMPTY at
# sf>=0.01 and the sketch's no-false-negative guarantee vacuously true
# (VERDICT r5 "what's wrong" #2). The 1.2x-average rule is non-empty at
# every shipped SF, and the all-integer rational form keeps the threshold
# comparison exact on both engines (no float boundary).
HEAVY_MULT_NUM, HEAVY_MULT_DEN = 6, 5
# freqItems support is clamped at 1e-4 (10k counters per partition), so
# once users > CLAMP_USERS = 11,000 the adaptive 1.1/users support would
# fall below the clamp and the no-false-negative guarantee stops covering
# the 1.2x-average threshold (ADVICE r6). Past the clamp, BOTH the sketch
# and the exact side switch to the clamped absolute share with the same
# 12/11 margin ratio: share > (12/11) * 1e-4 = 3/27500 — all-integer
# rational on the exact side, so the guarantee and the oracle stay
# aligned at ANY population.
CLAMP_USERS = 11_000
CLAMP_HEAVY_NUM, CLAMP_HEAVY_DEN = 3, 27_500


def heavy_user_candidates(spark, sf_dir, support=None):
    """Single-pass approximate heavy hitters via ``freqItems``
    (Karp/Shenker/Papadimitriou counter sketch): every user whose event
    share exceeds `support` is GUARANTEED to be returned (possible
    false positives, no false negatives). The sketch carries a fixed
    1/support-sized counter map per partition and merges — no per-key
    shuffle at all, vs the exact heavy-hitter query's (type, user)
    aggregate (events_heavy_hitters). With support=None it adapts to
    just under the 1.2x-average share so the guarantee covers
    approx_heavy_users' exact threshold. Candidate sets are
    sketch-internal-order dependent across engines, so this raw form
    has no SQL oracle; the registry entry is approx_heavy_users
    below. 100 TB note: 1/support counters per partition means the
    adaptive support needs the 1e-4 clamp (10k counters); beyond that
    population (users > CLAMP_USERS) approx_heavy_users switches its
    exact threshold to the clamped absolute share too, so the
    no-false-negative guarantee stays aligned with what the sketch can
    actually promise (ADVICE r6)."""
    ev = load_table(spark, sf_dir, "events")
    if support is None:
        users = ev.agg(F.count_distinct("user_id")).first()[0]
        # strictly below NUM/DEN/users so share > threshold ⇒ share > support
        support = max(1.1 / max(users, 1), 1e-4)
    res = ev.stat.freqItems(["user_id"], support=support)
    return (
        res.select(F.explode("user_id_freqItems").alias("user_id"))
        .orderBy("user_id")
    )


def approx_heavy_users(spark, sf_dir):
    """Registry query with a DERIVED DuckDB oracle (VERDICT r3 task 5):
    the sketch's candidate LIST is engine-specific, but its no-false-
    negative GUARANTEE is exactly SQL-checkable. Emit every user whose
    exact count exceeds 1.2x the average *that the sketch also
    surfaced* (inner join of exact heavies against the broadcast
    candidate set): if freqItems ever missed a true heavy hitter, that
    row disappears and the driver's row-count/hash check goes red
    against the oracle's purely-exact heavy list. The sketch pass runs
    for real in-plan; the exact side is the verification harness. The
    exact heavy set is NON-EMPTY at sf0.001/0.01/0.1 (checked by
    test_freq_items_superset_guarantee), so the guarantee is
    falsifiable — not the empty-set-⊆-anything it was under the fixed
    0.02 support."""
    ev = load_table(spark, sf_dir, "events")
    total, users = ev.agg(
        F.count("*"), F.count_distinct("user_id")
    ).first()  # two scalars, one job — threshold literals
    if users > CLAMP_USERS:
        # adaptive support would clamp at 1e-4: align the exact
        # threshold with the clamped sketch contract (see CLAMP_USERS)
        heavy_pred = (F.col("n_events") * CLAMP_HEAVY_DEN
                      > CLAMP_HEAVY_NUM * total)
    else:
        heavy_pred = (F.col("n_events") * HEAVY_MULT_DEN * users
                      > HEAVY_MULT_NUM * total)
    exact_heavy = (
        ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
        .where(heavy_pred)
    )
    cand = heavy_user_candidates(spark, sf_dir)
    return (
        exact_heavy.join(F.broadcast(cand), "user_id", "inner")
        .select("user_id", "n_events",
                F.lit(True).alias("in_sketch_candidates"))
        .orderBy("user_id")
    )


def dq_five_number_summary(spark, sf_dir):
    """Boxplot (five-number) summary of document length per language:
    min / Q1 / median / Q3 / max plus the Tukey IQR outlier count —
    the per-group distribution snapshot every profiling report opens
    with. One exact-percentile aggregate keyed by language (the
    percentile array computes all three quartiles in one pass), then
    the fence count reuses the same key partitioning."""
    d = load_table(spark, sf_dir, "documents")
    stats = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.expr("percentile(n_chars, array(0.25, 0.5, 0.75))").alias("q"),
        F.max("n_chars").alias("max_chars"),
    ).select(
        "lang", "n_docs", "min_chars",
        F.col("q")[0].alias("q1"),
        F.col("q")[1].alias("median"),
        F.col("q")[2].alias("q3"),
        "max_chars",
    ).localCheckpoint(eager=True)  # lang-cardinality; fence pass re-reads it
    fences = d.select("lang", "n_chars").join(F.broadcast(stats), "lang")
    outliers = fences.where(
        (F.col("n_chars") < F.col("q1") - 1.5 * (F.col("q3") - F.col("q1")))
        | (F.col("n_chars") > F.col("q3") + 1.5 * (F.col("q3") - F.col("q1")))
    ).groupBy("lang").agg(F.count("*").alias("n_outliers"))
    return (
        stats.join(outliers, "lang", "left")
        .select(
            "lang", "n_docs", "min_chars", "q1", "median", "q3", "max_chars",
            F.coalesce("n_outliers", F.lit(0)).alias("n_outliers"),
        )
    )


ECDF_GRID = tuple(range(0, 501, 50))  # value grid for the ECDF fingerprint


def dq_value_ecdf(spark, sf_dir):
    """Distribution fingerprint: the empirical CDF of event value
    evaluated at a fixed grid, per event type — the compact shape
    summary two dataset versions can be diffed on (drift detection
    without shipping raw distributions). One pass: every grid point is
    an independent conditional count in the same aggregate, so the
    shuffle carries |types| x |grid| integers. Shares are exact
    integer ratios rounded for display."""
    ev = load_table(spark, sf_dir, "events")
    aggs = [
        F.count(F.when(F.col("value") <= g, 1)).alias(f"le_{g}")
        for g in ECDF_GRID
    ]
    wide = ev.groupBy("event_type").agg(F.count("*").alias("n"), *aggs)
    # unpivot the grid columns into (grid_value, cum_share) rows
    stack_args = ", ".join(f"{g}, le_{g}" for g in ECDF_GRID)
    return wide.selectExpr(
        "event_type", "n",
        f"stack({len(ECDF_GRID)}, {stack_args}) AS (grid_value, n_le)",
    ).select(
        "event_type",
        F.col("grid_value").cast("int").alias("grid_value"),
        F.round(F.col("n_le") / F.col("n"), 6).alias("cum_share"),
    )


MAD_K = 3.0  # outlier fence: |x - median| > K * MAD


def dq_mad_outliers(spark, sf_dir):
    """Robust outlier census (median absolute deviation): per event
    type, the exact median, the MAD, and how many values sit outside
    median ± K*MAD — the heavy-tail-safe sibling of z-score fences
    (mean/stddev fences break on the very outliers they hunt).

    Scale shape: two chained aggregations on the SAME type key (median
    of values, then median of absolute deviations + fence count), so
    the second pass reuses the first's hash partitioning; the medians
    frame between them is type-cardinality and broadcast. Exact median
    forces each type's values through its reducer — the documented
    sketch swap at 100 TB is percentile_approx (cf.
    approx_value_quantiles), same plan otherwise."""
    ev = load_table(spark, sf_dir, "events")
    # med and mad are type-cardinality and each feeds a later pass over
    # the fact table: the barriers hold the query to its inherent THREE
    # event scans (median, median-of-deviations, fence count) instead
    # of re-deriving each prior pass inside the next
    med = ev.groupBy("event_type").agg(
        F.median("value").alias("med")
    ).localCheckpoint(eager=True)
    dev = (
        ev.join(F.broadcast(med), "event_type")
        .select(
            "event_type", "value", "med",
            F.abs(F.col("value") - F.col("med")).alias("adev"),
        )
    )
    mad = dev.groupBy("event_type").agg(
        F.first("med").alias("med"),
        F.median("adev").alias("mad"),
    ).localCheckpoint(eager=True)
    return (
        dev.select("event_type", "value")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.first("med"), 6).alias("med"),
            F.round(F.first("mad"), 6).alias("mad"),
            F.count(
                F.when(
                    F.abs(F.col("value") - F.col("med"))
                    > F.lit(MAD_K) * F.col("mad"),
                    1,
                )
            ).alias("n_outliers"),
        )
    )


def dq_referential_violations(spark, sf_dir):
    """Cross-table referential-integrity audit: orphan counts for each
    foreign-key edge of the star schema (orders→customer,
    lineitem→orders, lineitem→part, customer→nation). The ETL-hygiene
    report the reference's audit trail implies but never materializes
    (its per-document loop can't see across collections).

    Scale shape: each edge is a LEFT ANTI join — fact side streams,
    key side reduces to its distinct key set first (distinct combines
    map-side, so the join build input is key-cardinality); small key
    sets broadcast under AQE. Output is one row per edge: constant-size
    regardless of data."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    n = load_table(spark, sf_dir, "nation")

    def _orphans(fact, fk, dim, pk, edge):
        keys = dim.select(F.col(pk).alias(fk)).distinct()
        return (
            fact.select(fk)
            .join(keys, fk, "left_anti")
            .agg(F.count("*").alias("orphan_rows"))
            .select(F.lit(edge).alias("fk_edge"), "orphan_rows")
        )

    edges = [
        _orphans(o, "o_custkey", c, "c_custkey", "orders->customer"),
        _orphans(li, "l_orderkey", o, "o_orderkey", "lineitem->orders"),
        _orphans(li, "l_partkey", p, "p_partkey", "lineitem->part"),
        _orphans(c, "c_nationkey", n, "n_nationkey", "customer->nation"),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionByName(e)
    return out


ORACLE_SQL_FIVE_NUM = """
    WITH stats AS (
        SELECT lang, count(*) AS n_docs,
               CAST(min(n_chars) AS BIGINT) AS min_chars,
               quantile_cont(n_chars, 0.25) AS q1,
               quantile_cont(n_chars, 0.5) AS median,
               quantile_cont(n_chars, 0.75) AS q3,
               CAST(max(n_chars) AS BIGINT) AS max_chars
        FROM documents GROUP BY lang
    ), outliers AS (
        SELECT d.lang, count(*) AS n_outliers
        FROM documents d JOIN stats s USING (lang)
        WHERE d.n_chars < s.q1 - 1.5 * (s.q3 - s.q1)
           OR d.n_chars > s.q3 + 1.5 * (s.q3 - s.q1)
        GROUP BY d.lang
    )
    SELECT lang, n_docs, min_chars, q1, median, q3, max_chars,
           COALESCE(n_outliers, 0) AS n_outliers
    FROM stats LEFT JOIN outliers USING (lang)
"""

_ecdf_cells = ", ".join(
    f"struct_pack(g := {g}, c := count(*) FILTER (WHERE value <= {g}))"
    for g in ECDF_GRID
)
ORACLE_SQL["dq_value_ecdf"] = f"""
    WITH wide AS (
        SELECT event_type, count(*) AS n,
               unnest([{_ecdf_cells}]) AS cell
        FROM events GROUP BY event_type
    )
    SELECT event_type,
           CAST(cell.g AS INT) AS grid_value,
           round(CAST(cell.c AS DOUBLE) / n, 6) AS cum_share
    FROM wide
"""

ORACLE_SQL["dq_mad_outliers"] = f"""
    WITH med AS (
        SELECT event_type, median(value) AS med FROM events GROUP BY 1
    ), mad AS (
        SELECT e.event_type, any_value(m.med) AS med,
               median(abs(e.value - m.med)) AS mad
        FROM events e JOIN med m USING (event_type)
        GROUP BY e.event_type
    )
    SELECT e.event_type,
           round(any_value(a.med), 6) AS med,
           round(any_value(a.mad), 6) AS mad,
           count(*) FILTER (WHERE abs(e.value - a.med) > {MAD_K} * a.mad)
               AS n_outliers
    FROM events e JOIN mad a USING (event_type)
    GROUP BY e.event_type
"""

ORACLE_SQL["dq_referential_violations"] = """
    SELECT 'orders->customer' AS fk_edge,
           count(*) FILTER (WHERE c.c_custkey IS NULL) AS orphan_rows
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'lineitem->orders',
           count(*) FILTER (WHERE o.o_orderkey IS NULL)
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'lineitem->part',
           count(*) FILTER (WHERE p.p_partkey IS NULL)
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    UNION ALL
    SELECT 'customer->nation',
           count(*) FILTER (WHERE n.n_nationkey IS NULL)
    FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
"""

ORACLE_SQL["zorder_bucket_census"] = _zorder_census_sql()
# DuckDB has no width_bucket; the CASE replicates Spark's exact
# arithmetic (floor((v - lo) / ((hi - lo) / n)) + 1, out-of-range to
# 0 / n+1) so boundary values bucket identically in both engines.
ORACLE_SQL["dq_histogram"] = f"""
    SELECT event_type,
           CASE WHEN value < {HIST_LO} THEN 0
                WHEN value >= {HIST_HI} THEN {HIST_BUCKETS + 1}
                ELSE CAST(floor((value - {HIST_LO})
                          / (({HIST_HI} - {HIST_LO}) / {HIST_BUCKETS}))
                          AS BIGINT) + 1
           END AS bucket,
           count(*) AS cnt
    FROM events GROUP BY 1, 2
"""


ORACLE_SQL["approx_heavy_users"] = f"""
    SELECT user_id, count(*) AS n_events,
           TRUE AS in_sketch_candidates
    FROM events
    GROUP BY user_id
    HAVING CASE
        WHEN (SELECT count(DISTINCT user_id) FROM events) > {CLAMP_USERS}
        THEN count(*) * {CLAMP_HEAVY_DEN}
                 > {CLAMP_HEAVY_NUM} * (SELECT count(*) FROM events)
        ELSE count(*) * {HEAVY_MULT_DEN}
                 * (SELECT count(DISTINCT user_id) FROM events)
             > {HEAVY_MULT_NUM} * (SELECT count(*) FROM events)
    END
"""

_depth_probs_sql = "[" + ", ".join(str(p) for p in DEPTH_PROBS) + "]"
ORACLE_SQL["dq_histogram_equidepth"] = f"""
    WITH bounds AS (
        SELECT event_type, quantile_cont(value, {_depth_probs_sql}) AS bnds
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(len(list_filter(b.bnds, x -> e.value > x)) AS BIGINT) AS bucket,
           count(*) AS cnt
    FROM events e JOIN bounds b USING (event_type)
    GROUP BY 1, 2
"""
ORACLE_SQL["dq_key_skew"] = f"""
    WITH counts AS (
        SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY l_suppkey
    ), total AS (
        SELECT CAST(count(*) AS DOUBLE) AS total FROM lineitem
    ), ranked AS (
        SELECT l_suppkey, cnt,
               row_number() OVER (ORDER BY cnt DESC, l_suppkey ASC) AS rk
        FROM counts
    )
    SELECT l_suppkey, cnt, CAST(rk AS INT) AS rk,
           round(cnt / total.total, 6) AS share
    FROM ranked CROSS JOIN total
    WHERE rk <= {SKEW_TOP_K}
"""

RECON_TOLERANCE_PCT = 5  # |stored - derived| <= 5% of derived counts as consistent


def dq_order_reconciliation(spark, sf_dir):
    """Cross-table reconciliation audit: compare each order's STORED
    o_totalprice against the revenue DERIVED from its lineitems
    (sum of extendedprice * (1 - discount), exact DECIMAL), and report
    the corpus-level consistency census — the first financial-integrity
    check on a new drop, and the query that catches partial loads,
    double-loads, and silently dropped child rows.

    Scale shape: one lineitem aggregate keyed on l_orderkey (map-side
    combined), one equi-join back to orders on its key, one global
    census aggregate. Orders without any lineitem surface as
    orphan_orders (LEFT join, not dropped). The tolerance predicate is
    exact decimal arithmetic scaled by 100 — no fp boundary flake."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    l = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    derived = l.groupBy("l_orderkey").agg(
        F.sum(rev).cast("decimal(18,4)").alias("derived_dec")
    )
    joined = o.join(derived, o.o_orderkey == derived.l_orderkey, "left")
    stored = F.col("o_totalprice").cast("decimal(18,4)")
    diff = F.abs(stored - F.col("derived_dec"))
    consistent = (
        diff * F.lit(100).cast("decimal(10,0)")
        <= F.col("derived_dec") * F.lit(RECON_TOLERANCE_PCT).cast("decimal(10,0)")
    )
    return joined.agg(
        F.count("*").alias("n_orders"),
        F.count(F.when(F.col("derived_dec").isNull(), 1)).alias("orphan_orders"),
        F.count(F.when(consistent, 1)).alias("consistent_orders"),
        F.count(F.when(~consistent, 1)).alias("inconsistent_orders"),
        F.max(diff).cast("double").alias("max_abs_diff"),
    )


DRIFT_ATTRS = ("o_orderkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority")
DRIFT_THRESH_NUM, DRIFT_THRESH_DEN = 1, 20  # |share_a - share_b| > 5%


def dq_json_type_drift(spark, sf_dir):
    """Schema-drift monitor for schemaless JSON ingest — the check a
    Mongo-to-warehouse pipeline runs every batch: per attribute, the
    census of OBSERVED JSON value types (number_int / number_float /
    string / bool / null / array / object / missing) across two
    deterministic batch halves, with a flag when an attribute's type
    share moves more than 5% between halves (a producer changed a
    field's type or started omitting it).

    Spark-first: types are recovered from the actual document BYTES via
    Spark 4 VARIANT introspection (parse_json -> try_variant_get ->
    schema_of_variant), not assumed from a schema — exactly what makes
    the check catch producer-side drift. The oracle derives the
    expected census independently from the document generator's rules
    over the relational columns, so a mis-typed variant parse breaks
    the hash. Everything after the per-document type projection is
    (attribute x type x 2)-cardinality; the share comparison is exact
    integer arithmetic (n_a*tot_b vs n_b*tot_a)."""
    from ..functions.sampling import scrambled_key
    from .transform_queries import _orders_as_docs

    docs = _orders_as_docs(spark, sf_dir)
    v = F.parse_json("raw_json")

    def canon(attr):
        t = F.schema_of_variant(F.try_variant_get(v, f"$.{attr}", "variant"))
        return (
            F.when(t.isNull(), "missing")
            .when(t == "VOID", "null")
            .when(t == "STRING", "string")
            .when(t == "BOOLEAN", "bool")
            .when(t == "BIGINT", "number_int")
            .when(t.startswith("DECIMAL") | (t == "DOUBLE"), "number_float")
            .when(t.startswith("ARRAY"), "array")
            .otherwise("object")
        )

    doc_id = F.get_json_object("raw_json", "$.o_orderkey").cast("bigint")
    typed = docs.select(
        scrambled_key(doc_id, 2).alias("batch"),
        F.explode(F.array(*[
            F.struct(F.lit(a).alias("attribute"), canon(a).alias("json_type"))
            for a in DRIFT_ATTRS
        ])).alias("at"),
    ).select("batch", "at.attribute", "at.json_type")
    counts = typed.groupBy("attribute", "json_type").agg(
        F.count_if(F.col("batch") == 0).alias("n_a"),
        F.count_if(F.col("batch") == 1).alias("n_b"),
    )
    tots = counts.groupBy("attribute").agg(
        F.sum("n_a").alias("tot_a"), F.sum("n_b").alias("tot_b"))
    drifted = (
        F.abs(F.col("n_a") * F.col("tot_b") - F.col("n_b") * F.col("tot_a"))
        * DRIFT_THRESH_DEN
        > DRIFT_THRESH_NUM * F.col("tot_a") * F.col("tot_b")
    )
    return (
        counts.join(F.broadcast(tots), "attribute")
        .select("attribute", "json_type", "n_a", "n_b",
                drifted.alias("drifted"))
    )


ORACLE_SQL["dq_json_type_drift"] = """
    WITH batched AS (
        SELECT CASE WHEN o_orderpriority <> '1-URGENT'
                    THEN 'present' ELSE 'absent' END AS prio,
               {batch} AS batch
        FROM orders
    ), rows_out AS (
        SELECT attribute, json_type,
               count(*) FILTER (batch = 0) AS n_a,
               count(*) FILTER (batch = 1) AS n_b
        FROM batched, (VALUES
            ('o_orderkey', 'number_int', NULL),
            ('o_orderstatus', 'string', NULL),
            ('o_totalprice', 'number_float', NULL),
            ('o_orderdate', 'string', NULL),
            ('o_orderpriority', 'string', 'present'),
            ('o_orderpriority', 'missing', 'absent')
        ) AS t(attribute, json_type, want)
        WHERE t.want IS NULL OR t.want = batched.prio
        GROUP BY attribute, json_type
    ), tots AS (
        SELECT attribute,
               sum(n_a) AS tot_a, sum(n_b) AS tot_b
        FROM rows_out GROUP BY attribute
    )
    SELECT r.attribute, r.json_type,
           CAST(r.n_a AS BIGINT) AS n_a,
           CAST(r.n_b AS BIGINT) AS n_b,
           abs(r.n_a * t.tot_b - r.n_b * t.tot_a) * {den}
               > {num} * t.tot_a * t.tot_b AS drifted
    FROM rows_out r JOIN tots t ON t.attribute = r.attribute
""".format(batch="(o_orderkey * 2654435761) % 2",
           den=DRIFT_THRESH_DEN, num=DRIFT_THRESH_NUM)


QUERIES = {
    "dq_json_type_drift": dq_json_type_drift,
    "dq_chisq_independence": dq_chisq_independence,
    "dq_column_profile": dq_column_profile,
    "dq_null_violations": dq_null_violations,
    "zorder_bucket_census": zorder_bucket_census,
    "dq_histogram": dq_histogram,
    "dq_histogram_equidepth": dq_histogram_equidepth,
    "dq_key_skew": dq_key_skew,
    "dq_referential_violations": dq_referential_violations,
    "dq_mad_outliers": dq_mad_outliers,
    "approx_heavy_users": approx_heavy_users,
    "dq_value_ecdf": dq_value_ecdf,
    "dq_five_number_summary": dq_five_number_summary,
    "dq_order_reconciliation": dq_order_reconciliation,
}
ORACLE_SQL["dq_five_number_summary"] = ORACLE_SQL_FIVE_NUM

ORACLE_SQL["dq_order_reconciliation"] = f"""
    WITH derived AS (
        SELECT l_orderkey,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(4,2))
                           - CAST(l_discount AS DECIMAL(4,2))))
                    AS DECIMAL(18,4)) AS derived_dec
        FROM lineitem GROUP BY l_orderkey
    ), joined AS (
        SELECT CAST(o.o_totalprice AS DECIMAL(18,4)) AS stored,
               d.derived_dec
        FROM orders o LEFT JOIN derived d ON o.o_orderkey = d.l_orderkey
    )
    SELECT count(*) AS n_orders,
           count(*) FILTER (WHERE derived_dec IS NULL) AS orphan_orders,
           count(*) FILTER (WHERE abs(stored - derived_dec)
                                  * CAST(100 AS DECIMAL(10,0))
                              <= derived_dec * CAST({RECON_TOLERANCE_PCT}
                                                    AS DECIMAL(10,0)))
               AS consistent_orders,
           count(*) FILTER (WHERE NOT (abs(stored - derived_dec)
                                  * CAST(100 AS DECIMAL(10,0))
                              <= derived_dec * CAST({RECON_TOLERANCE_PCT}
                                                    AS DECIMAL(10,0))))
               AS inconsistent_orders,
           CAST(max(abs(stored - derived_dec)) AS DOUBLE) AS max_abs_diff
    FROM joined
"""

