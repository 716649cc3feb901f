"""Round-4 corpus-curation extensions: split assignment, benchmark
decontamination, anomaly scan, skyline selection, winnowing
fingerprints.

Each operator is a first-class registry entry with a DuckDB oracle.
Determinism: no rand() anywhere — splits and orderings come from the
shared Knuth scramble (functions/sampling.py); fingerprints from the
portable polynomial hashes (functions/text.py); every fp aggregate
routes through exact integer/DECIMAL sums with one final double op in
identical operand order on both engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.sampling import scrambled_key, scrambled_key_sql
from ..functions.text import (
    MOD,
    duck_shingle_hashes,
    duck_word_hashes,
    shingle_hashes,
    word_hashes,
)
from ..sources.parquet import fan_out, load_table

SPLIT_BUCKETS = 100
TRAIN_BELOW = 80          # buckets [0,80) -> train
VAL_BELOW = 90            # [80,90) -> val, [90,100) -> test
BENCH_SOURCE = "src0"     # documents.source treated as the eval suite
DECON_K = 3               # shingle width for decontamination

# Relative df-cap on the bench shingle set (r13, the r5 SPARSE_MAX_DF
# pattern): a shingle present in more than max(DECON_DF_FLOOR,
# ceil(DECON_DF_FRAC * screened docs)) screened documents is
# boilerplate, not leakage evidence — the ABSOLUTE rule degenerated to
# ~100% drop on the synthetic ~30-word vocabulary (2 survivors of 4750
# at sf0.1). Sizing is measurement-backed (BASELINE.md r13): max bench
# -shingle df is 7 at sf0.001 and 5 at sf0.01, so the floor of 8 is
# INERT at both gated SFs (hash-identical results), while at sf0.1 it
# lifts survivors 2 -> 195. The relative arm takes over above 8000
# screened docs: on a 10M-doc corpus the cap is 10k — phrases shared
# by >0.1% of a corpus are idiom, not eval contamination.
DECON_DF_FLOOR = 8
DECON_DF_FRAC = 0.001
WINNOW_K = 3              # k-gram width for winnowing
WINNOW_W = 4              # winnowing window
PRICE_BUCKET = 1000.0     # pareto pre-prune bucket width (o_totalprice)
Z_FENCE = 2.5


def _docs(spark, sf_dir):
    return fan_out(spark, load_table(spark, sf_dir, "documents"))


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


def _df_capped_contaminated(screened_ex, bench, n_screened):
    """doc_ids of screened docs that share a DF-CAPPED bench shingle —
    the one decontamination rule, stated once for both entries
    (corpus_decontaminate and corpus_curation_pipeline_full; the r13
    review found the two inline copies drifting apart was the next
    likely bug).

    ``screened_ex``: (doc_id, s) exploded shingles of the screened
    corpus; ``bench``: distinct bench shingles (s); ``n_screened``: a
    ONE-ROW count frame (any single column name). The cap
    max(DECON_DF_FLOOR, ceil(DECON_DF_FRAC * n)) is the relative rule
    documented above. Cost shape: one counts-only aggregate on shingle
    hashes (map-side combinable) + a one-row broadcast; the cap can
    only SHRINK the broadcast bench set. Oracle twin:
    ``_duck_df_cap_ctes``."""
    df_counts = screened_ex.groupBy("s").agg(F.count("*").alias("df"))
    n_col = n_screened.columns[0]
    cap = F.greatest(
        F.lit(DECON_DF_FLOOR).cast("long"),
        F.ceil(F.lit(DECON_DF_FRAC) * F.col(n_col)).cast("long"),
    )
    bench_capped = (
        df_counts.join(F.broadcast(bench), "s")
        .crossJoin(F.broadcast(n_screened))  # one-row screened count
        .where(F.col("df") <= cap)
        .select("s")
    )
    return (
        screened_ex
        .join(F.broadcast(bench_capped), "s")
        .select("doc_id")
        .distinct()
    )


def _duck_df_cap_ctes(ex_cte: str, n_cte: str, n_col: str) -> str:
    """DuckDB twin of ``_df_capped_contaminated``: the corpus_df /
    bench_capped / contaminated CTE chain over an exploded-shingle CTE
    ``ex_cte`` (doc_id, s), a one-row count CTE ``n_cte`` exposing
    ``n_col``, and a ``bench`` CTE (s). Emitted WITHOUT a leading
    WITH/comma so callers splice it into their own chain."""
    return f"""corpus_df AS (
            SELECT s, count(*) AS df FROM {ex_cte} GROUP BY s
        ), bench_capped AS (
            SELECT b.s FROM bench b JOIN corpus_df c USING (s), {n_cte}
            WHERE c.df <= greatest({DECON_DF_FLOOR},
                CAST(ceil({DECON_DF_FRAC} * {n_cte}.{n_col}) AS BIGINT))
        ), contaminated AS (
            SELECT DISTINCT doc_id
            FROM {ex_cte} JOIN bench_capped USING (s)
        )"""


def _words(col):
    return F.filter(F.split(col, " "), lambda x: x != "")


_DUCK_WORDS = "list_filter(string_split(text, ' '), x -> x <> '')"


# ---------------------------------------------------------------------------
# train/val/test split assignment
# ---------------------------------------------------------------------------

def train_split_assign(spark, sf_dir):
    """Deterministic train/val/test assignment census: every document
    lands in a split by scrambled doc_id mod 100 (80/10/10), identically
    on every rerun and task retry (no rand()). The census groups by
    (split, lang) — a map-side expression plus one tiny aggregate; the
    assignment itself is a zero-shuffle projection any downstream writer
    reuses as a partition column."""
    d = _docs(spark, sf_dir)
    bucket = scrambled_key(F.col("doc_id"), SPLIT_BUCKETS)
    split = (
        F.when(bucket < TRAIN_BELOW, "train")
        .when(bucket < VAL_BELOW, "val")
        .otherwise("test")
    )
    return (
        d.select(
            split.alias("split"),
            "lang",
            "n_chars",
            F.size(_words(F.col("text"))).alias("n_toks"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_chars").alias("chars_total"),
            F.sum("n_toks").cast("long").alias("tokens_total"),
        )
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (filter form of contamination_ngram_overlap)
# ---------------------------------------------------------------------------

def corpus_decontaminate(spark, sf_dir):
    """Decontaminated-corpus census: drop every non-benchmark document
    sharing any RARE distinct 3-word shingle with the benchmark slice
    (documents.source == 'src0'), then report per-source totals /
    kept / dropped. Rare = corpus document frequency <=
    max(DECON_DF_FLOOR, ceil(DECON_DF_FRAC * corpus docs)) — shingles
    more common than the cap are idiom/boilerplate, not leakage
    evidence (constants above; sized so the cap is inert at the gated
    SFs and closes the r12 sf0.1 degeneracy note).

    Scale shape: both sides reduce to (doc_id, shingle-hash) longs
    before the semi-join — the benchmark side (an eval suite) is tiny
    and broadcasts; document text never crosses a shuffle. The df cap
    adds ONE counts-only aggregate on shingle hashes (map-side
    combinable) plus a one-row broadcast for the corpus count; it can
    only SHRINK the broadcast bench set. The kept set comes from ONE
    left-anti join against the contaminated-id list. Portable
    polynomial shingle hashes -> the oracle reproduces the exact hash
    values (not just equivalent grams)."""
    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    shingled = (
        d.select("doc_id", "source", word_hashes(w).alias("wh"))
        .select(
            "doc_id",
            "source",
            F.array_distinct(shingle_hashes(F.col("wh"), k=DECON_K)).alias("sh"),
        )
        .localCheckpoint(eager=True)  # feeds bench + candidate branches once
    )
    bench = (
        shingled.where(F.col("source") == BENCH_SOURCE)
        .select(F.explode("sh").alias("s"))
        .distinct()
    )
    corpus = shingled.where(F.col("source") != BENCH_SOURCE)
    corpus_ex = corpus.select("doc_id", F.explode("sh").alias("s"))
    contaminated = _df_capped_contaminated(
        corpus_ex, bench, corpus.agg(F.count("*").alias("n_corpus")))
    kept = corpus.join(contaminated, "doc_id", "left_anti")
    totals = corpus.groupBy("source").agg(F.count("*").alias("total_docs"))
    kept_counts = kept.groupBy("source").agg(F.count("*").alias("kept_docs"))
    return (
        totals.join(kept_counts, "source", "left")
        .select(
            "source",
            "total_docs",
            F.coalesce("kept_docs", F.lit(0)).alias("kept_docs"),
            (F.col("total_docs") - F.coalesce("kept_docs", F.lit(0))).alias(
                "dropped_docs"
            ),
        )
    )


# ---------------------------------------------------------------------------
# daily anomaly z-scores
# ---------------------------------------------------------------------------

def events_anomaly_zscore(spark, sf_dir):
    """Daily event-count anomaly scan: z-score of each day's volume
    against the all-days mean/stddev, with |z| > 2.5 flagged.

    Scale shape: one count aggregate (day-cardinality output), then the
    global moments come from exact INTEGER sums (n, sum, sum-of-squares)
    over that aggregate — broadcast back as a one-row crossJoin. The
    z arithmetic is double but every operand derives from exact integer
    sums in identical order on both engines, so results are
    bit-identical."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)  # feeds moments + output rows once
    )
    stats = daily.agg(
        F.count("*").alias("n_days"),
        F.sum("cnt").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n_days")
    # Degenerate-series guards (ADVICE r4): a single active day makes
    # the sample variance 0/0, and a constant series makes it 0 — both
    # yield NULL (no anomaly verdict) instead of ANSI divide errors /
    # Inf. CaseWhen branches evaluate lazily, so the guarded division
    # never executes on degenerate rows; the oracle carries CASE twins.
    var = F.when(
        F.col("n_days") > 1,
        (F.col("ss").cast("double") - F.col("s").cast("double") * mean)
        / (F.col("n_days") - F.lit(1)),
    )
    z = F.when(var > 0, F.round((F.col("cnt") - mean) / F.sqrt(var), 6))
    return (
        daily.crossJoin(F.broadcast(stats))
        .select(
            "day",
            "cnt",
            z.alias("zscore"),
            (F.abs(z) > Z_FENCE).alias("is_anomaly"),
        )
    )


# ---------------------------------------------------------------------------
# 2D skyline (Pareto frontier)
# ---------------------------------------------------------------------------

def orders_pareto_frontier(spark, sf_dir):
    """Skyline of orders maximizing (o_totalprice, o_orderdate): an
    order survives iff no other order is >= on both dimensions and
    strictly greater on at least one.

    Scale shape — the naive spec is a quadratic self-join, so this runs
    the classic two-phase skyline: (1) bucket prune: group prices into
    fixed-width buckets, compute each bucket's max date, and take the
    running max over STRICTLY HIGHER buckets (a window over the
    bucket-cardinality aggregate only — never the fact); any row whose
    date <= that threshold is dominated by some strictly-higher-priced
    row and is discarded with one broadcast join. (2) exact verify: the
    surviving candidate set is frontier-sized, so the exact dominance
    anti-join runs broadcast over candidates only. Result is exact and
    deterministic; only phase-1's pruning ratio depends on the bucket
    width."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.to_date("o_orderdate").alias("order_day")
    )
    pb = F.floor(F.col("o_totalprice") / F.lit(PRICE_BUCKET)).alias("pb")
    bucket_max = (
        o.select(pb, "order_day")
        .groupBy("pb")
        .agg(F.max("order_day").alias("bmax"))
    )
    w = (
        Window.orderBy(F.desc("pb"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    thr = bucket_max.select(
        "pb", F.max("bmax").over(w).alias("thr")
    )
    cand = (
        o.withColumn("pb", pb)
        .join(F.broadcast(thr), "pb")
        .where(F.col("thr").isNull() | (F.col("order_day") > F.col("thr")))
        .select("o_orderkey", "o_totalprice", "order_day")
        .localCheckpoint(eager=True)  # candidate set: both sides of the verify
    )
    dom = cand.select(
        F.col("o_totalprice").alias("d_price"), F.col("order_day").alias("d_day")
    )
    return cand.join(
        F.broadcast(dom),
        (F.col("d_price") >= F.col("o_totalprice"))
        & (F.col("d_day") >= F.col("order_day"))
        & (
            (F.col("d_price") > F.col("o_totalprice"))
            | (F.col("d_day") > F.col("order_day"))
        ),
        "left_anti",
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints
# ---------------------------------------------------------------------------

def text_winnowing_fingerprint(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's
    local fingerprinting, the MOSS algorithm): hash every 3-word k-gram,
    slide a window of 4 consecutive k-gram hashes, keep each window's
    minimum; the distinct selected hashes are the fingerprint. Guarantees
    any shared run of WINNOW_W+K-1 words between two documents shares a
    fingerprint hash — the detection floor exact-dedup misses.

    Scale shape: pure per-row array expressions (zero shuffle); the
    summary (count/min/max/sum of the fingerprint set) keeps the output
    scalar-only for the driver hash. Portable polynomial hashes ->
    bit-reproducible in the oracle."""
    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    staged = (
        d.where(F.size(w) >= WINNOW_K)
        .select("doc_id", word_hashes(w).alias("wh"))
        .select("doc_id", shingle_hashes(F.col("wh"), k=WINNOW_K).alias("kh"))
    )
    kh = F.col("kh")
    n_windows = F.greatest(F.size(kh) - (WINNOW_W - 1), F.lit(1))
    wins = F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda i: F.array_min(F.slice(kh, i, WINNOW_W)),
    )
    fp = F.array_distinct(wins)
    return staged.select(
        "doc_id",
        F.size(kh).alias("n_grams"),
        F.size(fp).alias("n_fp"),
        F.array_min(fp).alias("fp_min"),
        F.array_max(fp).alias("fp_max"),
        F.aggregate(fp, F.lit(0).cast("bigint"), lambda a, x: a + x).alias(
            "fp_sum"
        ),
    )


# ---------------------------------------------------------------------------
# BM25 retrieval
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10
BM25_QUERIES: list[tuple[int, list[str]]] = [
    (1, ["hash", "join"]),
    (2, ["stream", "window"]),
    (3, ["vector", "scan", "merge"]),
]
_BM25_SCALE = 1_000_000.0


def text_bm25_topk(spark, sf_dir):
    """BM25 lexical retrieval: top-10 documents per query for a fixed
    query batch (Robertson/Sparck-Jones Okapi BM25, k1=1.2, b=0.75) —
    the sparse half of a hybrid retrieval stack next to
    semantic_search_topk's dense half.

    Scale shape: the corpus-wide work is ONE (doc, term) count
    aggregate filtered to query terms BEFORE the shuffle (the query
    vocabulary prunes everything else at the scan), plus corpus stats
    (N, avgdl) as a broadcast one-row frame; df comes from the same
    pruned frame. Per-term scores are summed in a quantized integer
    domain (floor(score * 1e6)) so the 2-3-term additions are
    order-independent and bit-identical on both engines; ranking uses
    the exact integer."""
    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    all_terms = sorted({t for _, ts in BM25_QUERIES for t in ts})
    doclen = d.select("doc_id", F.size(w).alias("dl")).localCheckpoint(
        eager=True
    )  # corpus stats + per-doc join read it
    stats = doclen.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        d.select("doc_id", F.explode(w).alias("term"))
        .where(F.col("term").isin(all_terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    qterms = spark.createDataFrame(
        [(qid, t) for qid, ts in BM25_QUERIES for t in ts],
        "query_id int, term string",
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    term_score = (
        idf
        * (F.col("tf") * F.lit(BM25_K1 + 1.0))
        / (
            F.col("tf")
            + F.lit(BM25_K1)
            * (
                F.lit(1.0 - BM25_B)
                + F.lit(BM25_B) * (F.col("dl") / F.col("avgdl"))
            )
        )
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(qterms), "term")
        .select(
            "query_id",
            "doc_id",
            F.floor(term_score * F.lit(_BM25_SCALE)).cast("bigint").alias("sq"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("sq").alias("score_q"))
    )
    rk = Window.partitionBy("query_id").orderBy(
        F.desc("score_q"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(rk))
        .where(F.col("rank") <= BM25_TOPK)
        .select(
            "query_id",
            "doc_id",
            "rank",
            (F.col("score_q").cast("double") / F.lit(_BM25_SCALE)).alias(
                "score"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Benford first-digit profiling
# ---------------------------------------------------------------------------

def dq_benford_firstdigit(spark, sf_dir):
    """Benford's-law first-digit census over o_totalprice: observed
    share per leading digit vs the log10(1 + 1/d) expectation — the
    classic fabricated-data / unit-mixing smoke test for a money
    column. One aggregate; the digit extraction is a map-side
    expression (floor(p / 10^floor(log10 p)))."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    digit = F.floor(
        F.col("o_totalprice")
        / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).cast("int")
    counts = (
        o.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)  # total + output rows
    )
    total = counts.agg(F.sum("cnt").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("total"), 6).alias(
                "observed_share"
            ),
            F.round(
                F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")), 6
            ).alias("benford_share"),
        )
    )


# ---------------------------------------------------------------------------
# EWMA smoothing
# ---------------------------------------------------------------------------

EWMA_ALPHA = 0.5
EWMA_TAPS = 5


def ts_ewma(spark, sf_dir):
    """Per-user exponentially weighted moving average of event values
    over the last 5 observations (decay 0.5/tap, weights renormalized
    over the taps actually present at a series head).

    Scale shape: a bounded-tap EWMA is 4 lag() calls sharing ONE
    user-partitioned Window (one Exchange + sort) — the unbounded
    recursive form would need a sequential scan per user; truncating at
    5 taps (weight < 7% beyond) makes it a fixed-width window
    expression with identical double arithmetic on both engines."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    lags = [F.col("value")] + [
        F.lag("value", i).over(w) for i in range(1, EWMA_TAPS)
    ]
    weights = [EWMA_ALPHA ** i for i in range(EWMA_TAPS)]
    num = F.lit(0.0)
    den = F.lit(0.0)
    for wt, lg in zip(weights, lags):
        num = num + F.when(lg.isNull(), F.lit(0.0)).otherwise(F.lit(wt) * lg)
        den = den + F.when(lg.isNull(), F.lit(0.0)).otherwise(F.lit(wt))
    # den == 0.0 iff every tap (including the current value) is NULL —
    # degenerate but legal input; yield NULL instead of 0/0 (ANSI-mode
    # divide error / NaN, ADVICE r4). Oracle carries the CASE twin.
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(den > F.lit(0.0), F.round(num / den, 6)).alias("ewma"),
    )


# ---------------------------------------------------------------------------
# change-point detection
# ---------------------------------------------------------------------------

def ts_changepoint_split(spark, sf_dir):
    """Change-point detection on the daily event-count series: the
    split day maximizing the absolute difference between the mean
    before and the mean after (exhaustive scan over every candidate
    split — the exact two-segment solution).

    Scale shape: the fact collapses to a day-cardinality aggregate
    first; cumulative sums over that tiny frame (one window over ~365
    rows per year) give every split's left/right means in one pass, so
    the "exhaustive" scan is O(days), not O(days x rows). The argmax
    is a deterministic top-1 with day tie-break. Means are
    double(exact-integer sums)/counts in identical operand order."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)  # totals + cumulative both read it
    )
    totals = daily.agg(
        F.count("*").alias("n_days"), F.sum("cnt").alias("total")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day", "cnt",
        F.sum("cnt").over(w).alias("cum_sum"),
        F.row_number().over(Window.orderBy("day")).alias("k"),
    )
    scored = (
        cum.crossJoin(F.broadcast(totals))
        .where(F.col("k") < F.col("n_days"))  # split must leave a right side
        .select(
            "day",
            "k",
            (
                F.abs(
                    F.col("cum_sum").cast("double") / F.col("k")
                    - (F.col("total") - F.col("cum_sum")).cast("double")
                    / (F.col("n_days") - F.col("k"))
                )
            ).alias("mean_gap"),
        )
    )
    return (
        scored.orderBy(F.desc("mean_gap"), F.asc("day"))
        .limit(1)
        .select(
            F.col("day").alias("split_day"),
            "k",
            F.round("mean_gap", 6).alias("mean_gap"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram novelty
# ---------------------------------------------------------------------------

def corpus_ngram_novelty(spark, sf_dir):
    """Novelty scoring: per document, the fraction of its distinct
    3-word shingles never seen in any LOWER-id document — the freshness
    signal a streaming curation pipeline uses to down-weight recycled
    content (novelty 1.0 = all-new, 0.0 = fully recycled).

    Scale shape: one aggregate finds each shingle's first-owner
    (min doc_id) — counts-only shuffle on shingle hashes; each doc's
    novel count is a second count-sized aggregate; no pairwise
    comparisons anywhere. Portable hashes -> bit-exact oracle."""
    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    staged = d.select(
        "doc_id", word_hashes(w).alias("wh")
    ).localCheckpoint(eager=True)  # CollapseProject barrier (see dedup.py)
    shingled = (
        staged.select(
            "doc_id",
            F.array_distinct(shingle_hashes(F.col("wh"), k=3)).alias("sh"),
        )
        .where(F.size("sh") > 0)
        .localCheckpoint(eager=True)  # sizes + exploded both read it
    )
    exploded = shingled.select("doc_id", F.explode("sh").alias("s"))
    first_owner = exploded.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    novel = (
        exploded.join(first_owner, "s")
        .where(F.col("doc_id") == F.col("first_doc"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("novel_sh"))
    )
    sizes = shingled.select("doc_id", F.size("sh").alias("n_sh"))
    return (
        sizes.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_sh",
            F.coalesce("novel_sh", F.lit(0)).cast("long").alias("novel_sh"),
            F.round(
                F.coalesce("novel_sh", F.lit(0)).cast("double") / F.col("n_sh"),
                6,
            ).alias("novelty"),
        )
    )


KL_SCALE = 1e12  # per-term quantization -> order-free integer sum


def corpus_split_kl_drift(spark, sf_dir):
    """Train/val token-distribution drift: KL(train || val) over
    add-one-smoothed unigram distributions of the deterministic 80/10
    split (train_split_assign's assignment). The drift check a training
    pipeline runs before trusting a held-out split — a KL spike means
    the split is not exchangeable (temporal skew, source clumping).

    Scale shape: two (split-pruned) token-count aggregates full-outer
    merged on term (vocab-sized), totals as a broadcast one-row frame.
    Per-term contributions p*ln(p/q) are doubles computed identically
    on both engines (each from exact integer counts, no accumulation),
    then quantized to integers (floor(c * 1e12)) so the vocab-sized SUM
    is order-independent — the same bit-exactness discipline as BM25's
    score sums. Single-row output."""
    d = _docs(spark, sf_dir)
    bucket = scrambled_key(F.col("doc_id"), SPLIT_BUCKETS)
    split = (
        F.when(bucket < TRAIN_BELOW, "train")
        .when(bucket < VAL_BELOW, "val")
        .otherwise("test")
    )
    toks = d.select(split.alias("split"),
                    F.explode(_words(F.col("text"))).alias("term"))
    tr = (toks.where(F.col("split") == "train")
          .groupBy("term").agg(F.count("*").alias("c_tr")))
    va = (toks.where(F.col("split") == "val")
          .groupBy("term").agg(F.count("*").alias("c_va")))
    j = (
        tr.join(va, "term", "full_outer")
        .select(
            F.coalesce("c_tr", F.lit(0)).alias("c_tr"),
            F.coalesce("c_va", F.lit(0)).alias("c_va"),
        )
        .localCheckpoint(eager=True)  # feeds totals AND contributions
    )
    tot = j.agg(
        F.count("*").cast("bigint").alias("v"),
        F.sum("c_tr").cast("bigint").alias("n_tr"),
        F.sum("c_va").cast("bigint").alias("n_va"),
    )
    p = (F.col("c_tr") + F.lit(1.0)) / (F.col("n_tr") + F.col("v"))
    q = (F.col("c_va") + F.lit(1.0)) / (F.col("n_va") + F.col("v"))
    qc = F.floor(p * F.log(p / q) * F.lit(KL_SCALE)).cast("bigint")
    return (
        j.crossJoin(F.broadcast(tot))
        .agg(
            F.max("v").alias("vocab_size"),
            F.max("n_tr").alias("train_tokens"),
            F.max("n_va").alias("val_tokens"),
            F.round(F.sum(qc) / F.lit(KL_SCALE), 6).alias("kl_train_val"),
        )
    )


_SPLIT_SQL = (
    f"CASE WHEN {scrambled_key_sql('doc_id', SPLIT_BUCKETS)} < {TRAIN_BELOW} "
    f"THEN 'train' WHEN {scrambled_key_sql('doc_id', SPLIT_BUCKETS)} < {VAL_BELOW} "
    f"THEN 'val' ELSE 'test' END"
)


# ---------------------------------------------------------------------------
# full curation DAG: gate -> dedup -> decontaminate -> mixture -> split
# ---------------------------------------------------------------------------

def corpus_curation_pipeline_full(spark, sf_dir):
    """The full production curation DAG as ONE dataflow (VERDICT r10
    task 7 / r12 task 1): quality gate -> exact dedup keep-first ->
    benchmark decontamination -> temperature-scaled domain-mix quota ->
    train/val/test split census. Extends corpus_curation_pipeline
    (dedup.py) through the two stages it stopped short of —
    corpus_decontaminate's shingle semi-join and sample_domain_mix's
    sqrt quota — with every stage reading ONE materialized corpus
    projection (reference anchor: the single-pass per-collection
    pipeline composition, etl_pipeline/pipeline.py:128-284).

    Stage semantics (each the proven single-stage entry's rule):
    - gate: >= CURATION_MIN_WORDS whitespace words (dedup.py);
    - dedup: keep-first (min doc_id) per (xxhash64(text), length)
      within the gated non-benchmark corpus;
    - decontaminate: drop survivors sharing any RARE distinct
      DECON_K-word shingle with the benchmark slice (source ==
      BENCH_SOURCE); rare = df over the SCREENED (deduped) population
      <= max(DECON_DF_FLOOR, ceil(DECON_DF_FRAC * screened docs)) —
      the r13 df cap, constants above. Bench shingles come from the
      FULL slice, ungated/undeduped — the eval suite is a given input,
      not something the pipeline curates;
    - mixture: per-source quota floor(MIX_MULT * sqrt(n_s)) computed
      over the CLEAN survivors (quota follows what upstream stages
      kept), rank by scrambled key;
    - split: scrambled doc_id mod 100, 80/10/10.

    Scale shape: the corpus scans ONCE into a checkpointed projection
    of (ids, 16-byte dedup key, shingle-hash array) — document text
    never leaves the scan. Bench shingles broadcast (eval suites are
    tiny by construction); the dedup shuffle carries hash keys; the
    quota frame is source-cardinality and broadcasts back; the rank is
    one shuffle on source. The clean-survivor id set is checkpointed
    so the quota census and the rank branch don't re-run the
    dedup/decontaminate joins twice. Plan pin: zero corpus FileScans
    downstream of the checkpoint (tests/test_plans.py)."""
    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    base = d.select(
        "doc_id", "lang", "source",
        F.size(w).alias("n_words"),
        F.xxhash64("text").alias("_h"),
        F.length("text").alias("_len"),
        F.array_distinct(
            shingle_hashes(word_hashes(w), k=DECON_K)
        ).alias("sh"),
    ).localCheckpoint(eager=True)  # ONE corpus scan feeds every stage

    bench = (
        base.where(F.col("source") == BENCH_SOURCE)
        .select(F.explode("sh").alias("s"))
        .distinct()
    )
    corpus = base.where(
        (F.col("source") != BENCH_SOURCE)
        & (F.col("n_words") >= _CURATION_MIN_WORDS)
    )
    survivors = (
        corpus.groupBy("_h", "_len")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    deduped = corpus.join(survivors, "doc_id", "left_semi")
    dedup_ex = deduped.select("doc_id", F.explode("sh").alias("s"))
    contaminated = _df_capped_contaminated(
        dedup_ex, bench, deduped.agg(F.count("*").alias("n_screened")))
    clean = (
        deduped.join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "lang", "source")
        .localCheckpoint(eager=True)  # quota census + rank branch read it
    )
    quota = (
        clean.groupBy("source")
        .agg(F.count("*").alias("n_s"))
        .select(
            "source",
            F.floor(F.lit(_MIX_MULT) * F.sqrt(F.col("n_s"))).alias("k_s"),
        )
    )
    win = Window.partitionBy("source").orderBy(
        scrambled_key(F.col("doc_id")).asc(), F.col("doc_id").asc()
    )
    sampled = (
        clean.select(
            "doc_id", "lang", "source", F.row_number().over(win).alias("rk")
        )
        .join(F.broadcast(quota), "source")
        .where(F.col("rk") <= F.col("k_s"))
    )
    bucket = scrambled_key(F.col("doc_id"), SPLIT_BUCKETS)
    split = (
        F.when(bucket < TRAIN_BELOW, "train")
        .when(bucket < VAL_BELOW, "val")
        .otherwise("test")
    )
    return (
        sampled.select(split.alias("split"), "source", "lang")
        .groupBy("split", "source", "lang")
        .agg(F.count("*").alias("docs"))
    )

# full-pipeline constants reused in the oracle f-string below — no
# cycle: neither corpus.py nor dedup.py imports this module
from .corpus import MIX_MULT as _MIX_MULT  # noqa: E402
from .dedup import CURATION_MIN_WORDS as _CURATION_MIN_WORDS  # noqa: E402

_BM25_TERMS_SQL = ", ".join(
    f"({qid}, '{t}')" for qid, ts in BM25_QUERIES for t in ts
)
_BM25_ALL_TERMS = ", ".join(
    f"'{t}'" for t in sorted({t for _, ts in BM25_QUERIES for t in ts})
)
_BM25_TS = (
    f"ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))"
    f" * (tf * {BM25_K1 + 1.0!r})"
    f" / (tf + {BM25_K1!r} * ({1.0 - BM25_B!r}"
    f" + {BM25_B!r} * (dl / avgdl)))"
)

ORACLE_SQL: dict[str, str] = {
    "corpus_split_kl_drift": f"""
        WITH toks AS (
            SELECT {_SPLIT_SQL} AS split, unnest({_DUCK_WORDS}) AS term
            FROM documents
        ), tr AS (
            SELECT term, count(*) AS c_tr FROM toks
            WHERE split = 'train' GROUP BY 1
        ), va AS (
            SELECT term, count(*) AS c_va FROM toks
            WHERE split = 'val' GROUP BY 1
        ), j AS (
            SELECT COALESCE(c_tr, 0) AS c_tr, COALESCE(c_va, 0) AS c_va
            FROM tr FULL OUTER JOIN va USING (term)
        ), tot AS (
            SELECT CAST(count(*) AS BIGINT) AS v,
                   CAST(sum(c_tr) AS BIGINT) AS n_tr,
                   CAST(sum(c_va) AS BIGINT) AS n_va
            FROM j
        ), contrib AS (
            SELECT CAST(floor(
                ((c_tr + 1.0) / (n_tr + v))
                * ln(((c_tr + 1.0) / (n_tr + v)) / ((c_va + 1.0) / (n_va + v)))
                * {KL_SCALE!r}) AS BIGINT) AS qc
            FROM j, tot
        )
        SELECT (SELECT v FROM tot) AS vocab_size,
               (SELECT n_tr FROM tot) AS train_tokens,
               (SELECT n_va FROM tot) AS val_tokens,
               round(CAST(sum(qc) AS BIGINT) / {KL_SCALE!r}, 6) AS kl_train_val
        FROM contrib
    """,
    "ts_changepoint_split": """
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, count(*) AS cnt
            FROM events GROUP BY 1
        ), totals AS (
            SELECT count(*) AS n_days, CAST(sum(cnt) AS BIGINT) AS total
            FROM daily
        ), cum AS (
            SELECT day, cnt,
                   CAST(sum(cnt) OVER (ORDER BY day
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_sum,
                   row_number() OVER (ORDER BY day) AS k
            FROM daily
        ), scored AS (
            SELECT day, k,
                   abs(CAST(cum_sum AS DOUBLE) / k
                       - CAST(total - cum_sum AS DOUBLE) / (n_days - k))
                       AS mean_gap
            FROM cum, totals WHERE k < n_days
        )
        SELECT day AS split_day, CAST(k AS BIGINT) AS k,
               round(mean_gap, 6) AS mean_gap
        FROM scored ORDER BY mean_gap DESC, day LIMIT 1
    """,
    "corpus_ngram_novelty": f"""
        WITH hashed AS (
            SELECT doc_id, {duck_word_hashes(_DUCK_WORDS)} AS wh FROM documents
        ), shingled AS (
            SELECT doc_id, list_distinct({duck_shingle_hashes(3)}) AS sh
            FROM hashed
        ), sets AS (
            SELECT doc_id, sh FROM shingled WHERE len(sh) > 0
        ), exploded AS (
            SELECT doc_id, unnest(sh) AS s FROM sets
        ), first_owner AS (
            SELECT s, min(doc_id) AS first_doc FROM exploded GROUP BY s
        ), novel AS (
            SELECT e.doc_id, count(*) AS novel_sh
            FROM exploded e JOIN first_owner f
              ON e.s = f.s AND e.doc_id = f.first_doc
            GROUP BY e.doc_id
        )
        SELECT t.doc_id, len(t.sh) AS n_sh,
               CAST(COALESCE(n.novel_sh, 0) AS BIGINT) AS novel_sh,
               round(CAST(COALESCE(n.novel_sh, 0) AS DOUBLE) / len(t.sh), 6)
                   AS novelty
        FROM sets t LEFT JOIN novel n ON t.doc_id = n.doc_id
    """,

    "text_bm25_topk": f"""
        WITH doclen AS (
            SELECT doc_id, len({_DUCK_WORDS}) AS dl FROM documents
        ), stats AS (
            SELECT count(*) AS n_docs,
                   CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
            FROM doclen
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf FROM (
                SELECT doc_id, unnest({_DUCK_WORDS}) AS term FROM documents
            ) WHERE term IN ({_BM25_ALL_TERMS})
            GROUP BY 1, 2
        ), df AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), qterms(query_id, term) AS (
            VALUES {_BM25_TERMS_SQL}
        ), scored AS (
            SELECT q.query_id, t.doc_id,
                   CAST(sum(CAST(floor(({_BM25_TS}) * {_BM25_SCALE!r})
                                 AS BIGINT)) AS BIGINT) AS score_q
            FROM tf t
            JOIN df USING (term)
            JOIN doclen USING (doc_id)
            CROSS JOIN stats
            JOIN qterms q USING (term)
            GROUP BY 1, 2
        )
        SELECT query_id, doc_id, rank,
               CAST(score_q AS DOUBLE) / {_BM25_SCALE!r} AS score
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY score_q DESC, doc_id) AS rank
            FROM scored
        ) WHERE rank <= {BM25_TOPK}
    """,
    "dq_benford_firstdigit": """
        WITH counts AS (
            SELECT CAST(floor(o_totalprice
                        / power(10.0, floor(log10(o_totalprice)))) AS INT)
                       AS digit,
                   count(*) AS cnt
            FROM orders WHERE o_totalprice > 0
            GROUP BY 1
        )
        SELECT digit, cnt,
               round(CAST(cnt AS DOUBLE)
                     / (SELECT CAST(sum(cnt) AS BIGINT) FROM counts), 6)
                   AS observed_share,
               round(log10(1.0 + 1.0 / digit), 6) AS benford_share
        FROM counts
    """,
    "ts_ewma": f"""
        WITH lagged AS (
            SELECT event_id, user_id, ts, value,
                   lag(value, 1) OVER w AS l1,
                   lag(value, 2) OVER w AS l2,
                   lag(value, 3) OVER w AS l3,
                   lag(value, 4) OVER w AS l4
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        , scored AS (
            SELECT event_id, user_id, ts, value,
                 (0.0 + CASE WHEN value IS NULL THEN 0.0
                             ELSE {1.0!r} * value END
                      + CASE WHEN l1 IS NULL THEN 0.0
                             ELSE {EWMA_ALPHA ** 1!r} * l1 END
                      + CASE WHEN l2 IS NULL THEN 0.0
                             ELSE {EWMA_ALPHA ** 2!r} * l2 END
                      + CASE WHEN l3 IS NULL THEN 0.0
                             ELSE {EWMA_ALPHA ** 3!r} * l3 END
                      + CASE WHEN l4 IS NULL THEN 0.0
                             ELSE {EWMA_ALPHA ** 4!r} * l4 END) AS num,
                 (0.0 + CASE WHEN value IS NULL THEN 0.0 ELSE {1.0!r} END
                      + CASE WHEN l1 IS NULL THEN 0.0
                             ELSE {EWMA_ALPHA ** 1!r} END
                      + CASE WHEN l2 IS NULL THEN 0.0
                             ELSE {EWMA_ALPHA ** 2!r} END
                      + CASE WHEN l3 IS NULL THEN 0.0
                             ELSE {EWMA_ALPHA ** 3!r} END
                      + CASE WHEN l4 IS NULL THEN 0.0
                             ELSE {EWMA_ALPHA ** 4!r} END) AS den
            FROM lagged
        )
        SELECT event_id, user_id, ts, value,
               CASE WHEN den > 0.0 THEN round(num / den, 6) END AS ewma
        FROM scored
    """,
    "train_split_assign": f"""
        SELECT {_SPLIT_SQL} AS split, lang,
               count(*) AS docs,
               CAST(sum(n_chars) AS BIGINT) AS chars_total,
               CAST(sum(len({_DUCK_WORDS})) AS BIGINT) AS tokens_total
        FROM documents
        GROUP BY 1, 2
    """,
    "corpus_curation_pipeline_full": f"""
        WITH hashed AS (
            SELECT doc_id, lang, source, text,
                   len({_DUCK_WORDS}) AS n_words,
                   {duck_word_hashes(_DUCK_WORDS)} AS wh
            FROM documents
        ), base AS (
            SELECT doc_id, lang, source, text, n_words,
                   list_distinct({duck_shingle_hashes(DECON_K)}) AS sh
            FROM hashed
        ), bench AS (
            SELECT DISTINCT unnest(sh) AS s FROM base
            WHERE source = '{BENCH_SOURCE}'
        ), corpus AS (
            SELECT * FROM base
            WHERE source <> '{BENCH_SOURCE}'
              AND n_words >= {_CURATION_MIN_WORDS}
        ), survivors AS (
            SELECT min(doc_id) AS doc_id FROM corpus GROUP BY text
        ), deduped AS (
            SELECT * FROM corpus
            WHERE doc_id IN (SELECT doc_id FROM survivors)
        ), dedup_ex AS (
            SELECT doc_id, unnest(sh) AS s FROM deduped
        ), n AS (
            SELECT count(*) AS n_screened FROM deduped
        ), {_duck_df_cap_ctes("dedup_ex", "n", "n_screened")}, clean AS (
            SELECT doc_id, lang, source FROM deduped
            WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
        ), quota AS (
            SELECT source,
                   CAST(floor({_MIX_MULT} * sqrt(count(*))) AS BIGINT) AS k_s
            FROM clean GROUP BY source
        ), ranked AS (
            SELECT doc_id, lang, source, row_number() OVER (
                PARTITION BY source
                ORDER BY {scrambled_key_sql('doc_id')}, doc_id) AS rk
            FROM clean
        ), sampled AS (
            SELECT doc_id, lang, source
            FROM ranked JOIN quota USING (source)
            WHERE rk <= k_s
        )
        SELECT {_SPLIT_SQL} AS split, source, lang, count(*) AS docs
        FROM sampled GROUP BY 1, 2, 3
    """,
    "corpus_decontaminate": f"""
        WITH shingled AS (
            SELECT doc_id, source,
                   list_distinct({duck_shingle_hashes(DECON_K)}) AS sh
            FROM (
                SELECT doc_id, source,
                       {duck_word_hashes(_DUCK_WORDS)} AS wh
                FROM documents
            )
        ), bench AS (
            SELECT DISTINCT unnest(sh) AS s FROM shingled
            WHERE source = '{BENCH_SOURCE}'
        ), corpus AS (
            SELECT * FROM shingled WHERE source <> '{BENCH_SOURCE}'
        ), corpus_ex AS (
            SELECT doc_id, unnest(sh) AS s FROM corpus
        ), n AS (
            SELECT count(*) AS n_corpus FROM corpus
        ), {_duck_df_cap_ctes("corpus_ex", "n", "n_corpus")}, kept AS (
            SELECT source, count(*) AS kept_docs FROM corpus
            WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
            GROUP BY source
        ), totals AS (
            SELECT source, count(*) AS total_docs FROM corpus GROUP BY source
        )
        SELECT t.source, t.total_docs,
               COALESCE(k.kept_docs, 0) AS kept_docs,
               t.total_docs - COALESCE(k.kept_docs, 0) AS dropped_docs
        FROM totals t LEFT JOIN kept k ON t.source = k.source
    """,
    "events_anomaly_zscore": f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, count(*) AS cnt
            FROM events GROUP BY 1
        ), stats AS (
            SELECT count(*) AS n_days,
                   CAST(sum(cnt) AS BIGINT) AS s,
                   CAST(sum(cnt * cnt) AS BIGINT) AS ss
            FROM daily
        ), m AS (
            SELECT n_days,
                   CAST(s AS DOUBLE) / n_days AS mean,
                   CASE WHEN n_days > 1 THEN
                       (CAST(ss AS DOUBLE)
                        - CAST(s AS DOUBLE) * (CAST(s AS DOUBLE) / n_days))
                       / (n_days - 1)
                   END AS var
            FROM stats
        )
        SELECT day, cnt,
               CASE WHEN var > 0
                    THEN round((cnt - mean) / sqrt(var), 6) END AS zscore,
               abs(CASE WHEN var > 0
                        THEN round((cnt - mean) / sqrt(var), 6) END)
                   > {Z_FENCE} AS is_anomaly
        FROM daily, m
    """,
    "orders_pareto_frontier": """
        SELECT o_orderkey, o_totalprice, CAST(o_orderdate AS DATE) AS order_day
        FROM orders o
        WHERE NOT EXISTS (
            SELECT 1 FROM orders d
            WHERE d.o_totalprice >= o.o_totalprice
              AND CAST(d.o_orderdate AS DATE) >= CAST(o.o_orderdate AS DATE)
              AND (d.o_totalprice > o.o_totalprice
                   OR CAST(d.o_orderdate AS DATE) > CAST(o.o_orderdate AS DATE))
        )
    """,
    "text_winnowing_fingerprint": f"""
        WITH hashed AS (
            SELECT doc_id, {duck_word_hashes(_DUCK_WORDS)} AS wh
            FROM documents
            WHERE len({_DUCK_WORDS}) >= {WINNOW_K}
        ), grams AS (
            SELECT doc_id, {duck_shingle_hashes(WINNOW_K)} AS kh FROM hashed
        ), fps AS (
            SELECT doc_id, kh,
                   list_distinct(list_transform(
                       range(1, greatest(len(kh) - {WINNOW_W - 1}, 1) + 1),
                       i -> list_min(kh[i:i+{WINNOW_W - 1}]))) AS fp
            FROM grams
        )
        SELECT doc_id,
               len(kh) AS n_grams,
               len(fp) AS n_fp,
               list_min(fp) AS fp_min,
               list_max(fp) AS fp_max,
               CAST(list_sum(fp) AS BIGINT) AS fp_sum
        FROM fps
    """,
}

QUERIES = {
    "train_split_assign": train_split_assign,
    "corpus_split_kl_drift": corpus_split_kl_drift,
    "corpus_decontaminate": corpus_decontaminate,
    "corpus_curation_pipeline_full": corpus_curation_pipeline_full,
    "events_anomaly_zscore": events_anomaly_zscore,
    "orders_pareto_frontier": orders_pareto_frontier,
    "text_winnowing_fingerprint": text_winnowing_fingerprint,
    "text_bm25_topk": text_bm25_topk,
    "dq_benford_firstdigit": dq_benford_firstdigit,
    "ts_ewma": ts_ewma,
    "ts_changepoint_split": ts_changepoint_split,
    "corpus_ngram_novelty": corpus_ngram_novelty,
}
