"""Corpus-curation operators for training-data pipelines: benchmark
contamination detection, repetition-quality signals (Gopher-style),
C4-style heuristic filters, and deterministic sequence packing.

These extend the reference's transform/audit surface (its quality
gates are per-field validation, ui/audit_dashboard.py KPI queries) to
the document-corpus operations a pretraining pipeline runs at 100 TB.
Every query is a pure DataFrame plan with a DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.sampling import scrambled_key, scrambled_key_sql
from ..functions.text import (
    duck_shingle_hashes,
    duck_word_hashes,
    duck_ws_tokens,
    ws_tokens,
)
from ..sources.parquet import fan_out, load_table


def _docs(spark, sf_dir):
    return fan_out(spark, load_table(spark, sf_dir, "documents"))


# the canonical tokenizer pair under the module's historic local names
# (r10 review: the private bit-identical copies functions/text.py was
# consolidated to REPLACE had survived here and in dedup.py — a future
# tokenizer tweak would have silently diverged the portable-hash
# families these modules share with mixing/chunking/repetition)
_words = ws_tokens
_DUCK_WORDS = duck_ws_tokens()

# ---------------------------------------------------------------------------
# Benchmark contamination: exact word-8-gram overlap between the corpus
# and a held-out "benchmark" set (here a deterministic doc_id slice; in
# production the eval-suite documents).
# ---------------------------------------------------------------------------

N_GRAM = 8
BENCH_MOD = 25


def _gram_rows(d):
    """Explode each doc into its distinct word-8-grams, keyed by a
    64-bit hash. The hash (not the gram text) is what crosses the
    shuffle: at 100 TB the join key drops from ~60 bytes of text to 8
    bytes, and distinct-ness is computed on the hash map-side."""
    w = _words(F.col("text"))
    staged = d.where(F.size(w) >= N_GRAM).select("doc_id", w.alias("w"))
    grams = F.transform(
        F.sequence(F.lit(1), F.size("w") - (N_GRAM - 1)),
        lambda i: F.xxhash64(F.array_join(F.slice("w", i, N_GRAM), " ")),
    )
    return (
        staged.select("doc_id", F.explode(F.array_distinct(grams)).alias("g"))
    )


def contamination_ngram_overlap(spark, sf_dir):
    """Decontamination scan: for every non-benchmark document, the
    number of distinct 8-grams it shares with the benchmark slice.

    Scale shape: both sides reduce to (key, gram-hash) pairs before the
    equi-join — the classic broadcast case, since the benchmark side
    (an eval suite) is tiny relative to the corpus; Spark's AQE
    broadcasts it from runtime stats, and the candidate side never
    shuffles document text at all. Output rows only for contaminated
    docs (the join is the filter).

    The oracle joins on the gram *string*; Spark joins on xxhash64 of
    the gram — identical results absent 64-bit collisions (~1e-13 at
    1e6 distinct grams / doc corpus scale here).
    """
    d = _docs(spark, sf_dir)
    grams = _gram_rows(d)
    bench = grams.where(F.col("doc_id") % BENCH_MOD == 0).select("g").distinct()
    cand = grams.where(F.col("doc_id") % BENCH_MOD != 0)
    return (
        cand.join(bench, "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )


# ---------------------------------------------------------------------------
# Repetition signals (the Gopher repetition filters, adapted to the
# single-line corpus: duplicate-word fraction and top-bigram fraction).
# ---------------------------------------------------------------------------


def text_repetition_stats(spark, sf_dir):
    """Per-document repetition quality signals: fraction of repeated
    words (1 - distinct/total) and the share of the single most common
    bigram among all bigrams — high values flag degenerate/looping text.

    Scale shape: dup_word_frac is a pure array expression inside the
    scan stage. top_bigram_frac needs per-(doc, bigram) counts: the
    groupBy key is (doc_id, bigram) so the shuffle carries counts, and
    the follow-up per-doc max/sum plus the re-join with the scalar
    stats are both keyed by doc_id — AQE coalesces them onto the same
    hash partitioning, no extra wide exchange.
    """
    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    # barrier: `staged` feeds both the bigram explode and the final
    # per-doc join — without it the scan+tokenize work runs once per
    # consumer (r10 review: two documents FileScans in the live plan)
    staged = d.where(F.size(w) >= 2).select(
        "doc_id",
        w.alias("w"),
        F.size(w).cast("bigint").alias("n_tokens"),
        F.round(
            1.0 - F.size(F.array_distinct(w)).cast("double") / F.size(w), 4
        ).alias("dup_word_frac"),
    ).localCheckpoint(eager=True)
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("w") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at("w", i), F.element_at("w", i + 1)
        ),
    )
    per_bigram = (
        staged.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("cnt"))
    )
    per_doc = per_bigram.groupBy("doc_id").agg(
        F.max("cnt").alias("top_cnt"), F.sum("cnt").alias("total_bi")
    )
    return (
        staged.select("doc_id", "n_tokens", "dup_word_frac")
        .join(per_doc, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "dup_word_frac",
            F.round(
                F.col("top_cnt").cast("double") / F.col("total_bi"), 4
            ).alias("top_bigram_frac"),
        )
    )


# ---------------------------------------------------------------------------
# C4-style heuristic keep/drop filters.
# ---------------------------------------------------------------------------

MIN_TOKENS = 20
MAX_TOKENS = 1000
MIN_DISTINCT_RATIO = 0.3
STOPWORDS = ("the", "a")


def text_c4_filters(spark, sf_dir):
    """C4-style document filter flags (length band, vocabulary
    diversity, contains-an-English-stopword) and the combined keep
    decision. Pure per-row projection — runs inside the scan stage with
    zero shuffle; at 100 TB the `keep` predicate pushes into the
    pipeline before any expensive downstream op."""
    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    n = F.size(w)
    distinct_ratio = F.size(F.array_distinct(w)).cast("double") / n
    has_stop = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS))) > 0
    flags = {
        "len_ok": (n >= MIN_TOKENS) & (n <= MAX_TOKENS),
        "diversity_ok": distinct_ratio >= MIN_DISTINCT_RATIO,
        "stopword_ok": has_stop,
    }
    keep = flags["len_ok"] & flags["diversity_ok"] & flags["stopword_ok"]
    # flags emitted as 0/1 ints: identical canonical form in every
    # engine/dataframe bridge (bool reprs differ across them)
    return d.where(n > 0).select(
        "doc_id",
        *[v.cast("int").alias(k) for k, v in flags.items()],
        keep.cast("int").alias("keep"),
    )


# ---------------------------------------------------------------------------
# Deterministic sequence packing: concatenate-and-chunk bin assignment.
# ---------------------------------------------------------------------------

SEQ_LEN = 2048
SHARDS = 8


def pack_sequences(spark, sf_dir):
    """Training-sequence packing census: documents are concatenated in
    deterministic (shard, doc_id) order and chunked into SEQ_LEN-token
    bins; a doc belongs to the bin containing its first token. Returns
    per-(shard, bin) doc and token counts — the shape a dataloader
    manifest builder needs.

    Scale shape: the running token sum is a window per shard, so state
    never crosses shards; with thousands of shards this is
    embarrassingly parallel after ONE hash shuffle on the shard key.
    (A global single-order cumsum would serialize — that's why the
    shard exists.) Membership is a pure function of doc_id, so retries
    and re-runs pack identically.
    """
    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    toks = d.select(
        "doc_id",
        F.size(w).cast("bigint").alias("n_tokens"),
        scrambled_key(F.col("doc_id"), SHARDS).alias("shard"),
    )
    win = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(win)
    return (
        toks.select(
            "shard",
            "n_tokens",
            F.floor((cum - F.col("n_tokens")) / F.lit(SEQ_LEN)).alias("bin_id"),
        )
        .groupBy("shard", "bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Training-mix sampling: temperature-scaled domain quotas and per-domain
# token budgets (the "data mixing" stage of a pretraining pipeline).
# ---------------------------------------------------------------------------

MIX_MULT = 4.0          # quota multiplier (power of two: exact in FP)
TOKEN_BUDGET = 2_000    # per-source token budget


def sample_domain_mix(spark, sf_dir):
    """Temperature-scaled domain-mix sampling: per-source quota
    K_s = floor(MIX_MULT * sqrt(n_s)) — sqrt is the tau=2 temperature
    that flattens the source distribution (big domains are downsampled
    relatively, small ones kept nearly whole) — then exactly K_s docs
    per source, ranked by a scrambled key.

    Determinism: the quota uses only sqrt (IEEE exact-rounded) and a
    power-of-two multiplier, so every engine computes the identical
    double and floor; membership is then pure integer arithmetic. No
    Bernoulli draws — reruns, task retries, and the oracle select the
    same subset.

    Scale shape: the count aggregate is map-side-combined and
    domain-count-sized; the quota frame is tiny and broadcast back;
    the rank is ONE shuffle on source, and only rank<=K rows survive
    each partition's local top-K sort.
    """
    d = _docs(spark, sf_dir)
    quota = (
        d.groupBy("source")
        .agg(F.count("*").alias("n_s"))
        .select(
            "source",
            F.floor(F.lit(MIX_MULT) * F.sqrt(F.col("n_s"))).alias("k_s"),
        )
    )
    order_key = scrambled_key(F.col("doc_id"))
    w = Window.partitionBy("source").orderBy(order_key.asc(), F.col("doc_id").asc())
    ranked = d.select("doc_id", "source", F.row_number().over(w).alias("rk"))
    return (
        ranked.join(F.broadcast(quota), "source")
        .where(F.col("rk") <= F.col("k_s"))
        .select("doc_id", "source", "rk")
    )


def sample_token_budget(spark, sf_dir):
    """Token-budget sampling: walk each source's documents in
    deterministic scrambled order and admit them until the per-source
    token budget is exhausted (a doc is admitted if the budget wasn't
    already spent before it — so the first over-budget doc still lands,
    matching greedy dataloader packing).

    Scale shape: one window cumsum per source — a single hash shuffle,
    state bounded per source; the admitted set is budget-sized, so
    everything downstream of this operator reads only what the mix
    needs.
    """
    d = _docs(spark, sf_dir)
    w_arr = _words(F.col("text"))
    order_key = scrambled_key(F.col("doc_id"))
    toks = d.select(
        "doc_id", "source",
        F.size(w_arr).cast("bigint").alias("n_tokens"),
        order_key.alias("ok"),
    )
    win = (
        Window.partitionBy("source")
        .orderBy(F.col("ok").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(win)
    return (
        toks.withColumn("cum_tokens", cum)
        .where(F.col("cum_tokens") - F.col("n_tokens") < TOKEN_BUDGET)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


# ---------------------------------------------------------------------------
# TF-IDF term scoring, per-domain selection, percentile trimming, and
# shard manifests — the remaining curation stages between "raw corpus"
# and "training shards on disk".
# ---------------------------------------------------------------------------

TFIDF_K = 3
BEST_K = 10
MANIFEST_SHARDS = 16
TRIM_LO = 0.05
TRIM_HI = 0.95


def text_tfidf_topk(spark, sf_dir):
    """Top-K TF-IDF terms per document: term frequency within the doc x
    inverse document frequency across the corpus.

    Ranking is fully integer-deterministic (tf DESC, df ASC, term ASC) so
    the oracle can't diverge on float ties; the tfidf score itself is
    emitted as a rounded value column (tf * ln(N/df), both engines
    compute ln on identical integer-derived doubles).

    Scale shape: the explode emits (doc_id, term) pairs but both
    aggregates reduce map-side — the tf shuffle carries per-(doc,term)
    counts, the df shuffle per-term counts (vocabulary-sized). The corpus
    size N is a 1-row broadcast. The tf<->df equi-join is term-keyed on
    count-sized inputs (never document text), and the final top-K window
    re-shuffles doc-keyed rows once. No stage ever carries the corpus
    payload past the first projection.
    """
    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    terms = d.where(F.size(w) > 0).select(
        "doc_id", F.explode(w).alias("term")
    )
    # tf is consumed three ways (the ranked join, the df marginal, the
    # corpus size); materialize it once so the TEXT column is scanned
    # and tokenized exactly once — without the barrier Catalyst clones
    # the explode pipeline per consumer (3x corpus text reads at scale)
    tf = (
        terms.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    ndocs = tf.agg(
        F.count_distinct("doc_id").cast("double").alias("n_docs")
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn("rk", F.row_number().over(win))
        .where(F.col("rk") <= TFIDF_K)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.col("rk").cast("int").alias("rk"),
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 3)
            .alias("tfidf"),
        )
    )


def corpus_best_per_source(spark, sf_dir):
    """Per-domain quality selection: keep the BEST_K largest documents of
    each source (the "take the best K pages per domain" curation stage).
    One hash shuffle on source; each partition keeps a bounded top-K via
    the window sort, so output is sources x K regardless of corpus size.
    """
    d = _docs(spark, sf_dir)
    win = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        d.select("doc_id", "source", "lang", "n_chars")
        .withColumn("rk", F.row_number().over(win))
        .where(F.col("rk") <= BEST_K)
        .select("doc_id", "source", "lang", "n_chars",
                F.col("rk").cast("int").alias("rk"))
    )


def corpus_length_trim(spark, sf_dir):
    """Percentile-band outlier trim: per-language exact p05/p95 of
    document length, keep documents inside the band. Both engines use
    the same linear-interpolation percentile definition (rank p*(n-1)),
    computed on identical integers — the bounds are bit-equal doubles.

    Scale shape: the per-language EXACT percentile needs each language's
    lengths together — one shuffle of (lang, n_chars) pairs, never text.
    (At 100 TB swap in approx_percentile for a sketch-only shuffle; the
    exact form is kept here because the oracle must match bit-for-bit.)
    The bounds frame is language-count-sized and broadcast back onto the
    scan, so the trim itself is a pushed-down filter.
    """
    d = _docs(spark, sf_dir)
    bounds = d.groupBy("lang").agg(
        F.expr(f"percentile(n_chars, {TRIM_LO})").alias("lo"),
        F.expr(f"percentile(n_chars, {TRIM_HI})").alias("hi"),
    )
    return (
        d.join(F.broadcast(bounds), "lang")
        .where(F.col("n_chars").cast("double").between(F.col("lo"), F.col("hi")))
        .select("doc_id", "lang", "n_chars")
    )


def corpus_shard_manifest(spark, sf_dir):
    """Training-shard manifest: deterministic shard assignment
    (scrambled doc_id mod MANIFEST_SHARDS) with per-shard document,
    token, and byte totals — what the dataloader reads to plan epoch
    order, and what the writer uses to verify shard balance.

    Scale shape: pure map-side projection + one count-sized aggregate;
    the shuffle carries MANIFEST_SHARDS rows of partial sums. The same
    key feeds ``df.write.partitionBy(shard)`` for the physical layout,
    so manifest and data are derived from one deterministic function of
    doc_id (retry-safe, rerun-stable)."""
    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    return (
        d.select(
            scrambled_key(F.col("doc_id"), MANIFEST_SHARDS).alias("shard"),
            F.size(w).cast("bigint").alias("n_tokens"),
            F.col("n_chars"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def text_token_length_dist(spark, sf_dir):
    """Token-length distribution across the corpus (how long are the
    words, with each length's share) — the tokenizer-design census
    (subword vocab sizing starts here). Explode emits integer lengths
    only; the census is map-side-combined and bounded by max word
    length; the total is a 1-row broadcast."""
    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    lengths = d.select(
        F.explode(F.transform(w, lambda x: F.length(x))).alias("token_len")
    )
    # length-cardinality census; the total derives FROM the census
    # (sum of its counts), so the corpus explode runs once with no
    # barrier needed — prefer re-aggregating a small frame over a
    # second fact scan whenever the quantity is derivable
    counts = lengths.groupBy("token_len").agg(
        F.count("*").alias("n_tokens")
    ).localCheckpoint(eager=True)
    total = counts.agg(F.sum("n_tokens").cast("double").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "token_len", "n_tokens",
            F.round(F.col("n_tokens") / F.col("total"), 6).alias("share"),
        )
    )


PREFIX_TOKENS = 12


def text_boilerplate_prefixes(spark, sf_dir):
    """Boilerplate/template detection: groups of documents sharing
    their first PREFIX_TOKENS tokens (shared openings = injected
    headers, scraper templates, license banners). One map-side prefix
    projection, one count aggregate keyed on the prefix HASH (the
    16-byte shuffle-key discipline of dedup_exact — document text
    never crosses the exchange); only multi-document groups survive.
    Oracle groups on the prefix string itself: identical absent 2^-64
    hash collisions."""
    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    prefix = F.array_join(F.slice(w, 1, PREFIX_TOKENS), " ")
    return (
        d.where(F.size(w) >= PREFIX_TOKENS)
        .select(F.xxhash64(prefix).alias("_ph"), "doc_id")
        .groupBy("_ph")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .where(F.col("n_docs") >= 2)
        .select("first_doc_id", "n_docs")
    )


def doc_source_entropy(spark, sf_dir):
    """Per-source language diversity: Shannon entropy (nats) of each
    source's language mix plus its language count — the census that
    flags monolingual domains vs aggregation hubs when planning
    language-balanced sampling. Two count-sized aggregates on the same
    source key (cell counts, then the entropy fold); shares are exact
    integer ratios so both engines feed ln identical doubles, and each
    p*ln(p) term is quantized to a nanonat BIGINT before the sum so the
    fold is order-free (r10 review: a raw double sum is partition-
    order-dependent in the last ulp — the same bug class the
    bigram-perplexity NLL quantization exists for)."""
    d = _docs(spark, sf_dir)
    cells = d.groupBy("source", "lang").agg(F.count("*").alias("cnt"))
    totals = cells.groupBy("source").agg(F.sum("cnt").alias("total"))
    p = F.col("cnt").cast("double") / F.col("total")
    term_q = F.round(p * F.log(p) * F.lit(1e9)).cast("long")
    return (
        cells.join(F.broadcast(totals), "source")
        .groupBy("source")
        .agg(
            F.count("*").cast("int").alias("n_langs"),
            F.round(-F.sum(term_q) / F.lit(1e9), 6).alias("lang_entropy"),
            F.first("total").alias("n_docs"),
        )
    )


GROWTH_CHECKPOINTS = 10


# Sub-buckets per frequency class for the two-phase rank: the largest
# partitioned-window partition is |biggest freq class| / ZIPF_RANK_BUCKETS
# (the f=1 class holds ~half a Zipfian vocabulary; scale this with the
# cluster).
ZIPF_RANK_BUCKETS = 64


def text_zipf_fit(spark, sf_dir):
    """Zipf's-law fit over the corpus term distribution: regression of
    ln(frequency) on ln(rank) — slope near -1 is the natural-language
    signature; a flat slope flags synthetic/templated text.

    Two-phase exact rank, no vocab-sized single-partition window
    (VERDICT r4 task 4): global rank decomposes into (a) an offset per
    (freq, hash-bucket) group from a census window — the census is a
    provably bounded aggregate: k distinct frequency values need
    sum(f_i) >= k(k+1)/2 corpus tokens, so it has O(sqrt(corpus
    tokens)) * ZIPF_RANK_BUCKETS rows (same discipline as
    dq_histogram_equidepth) — broadcast back, plus (b) a row_number
    PARTITIONED by (freq, bucket), whose largest partition is the
    biggest frequency class over ZIPF_RANK_BUCKETS. Within a frequency
    class ln(freq) is constant and the assigned rank SET {off+1..off+m}
    is the same under any within-class order, so every regression
    aggregate is identical to the single-window form — the oracle is
    unchanged. Single-row output."""
    from pyspark.sql.window import Window

    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    counts = (
        d.select(F.explode(w).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    # barrier: `bucketed` feeds BOTH the rank-offset census and the
    # ranked join — without it the corpus-wide explode+groupBy pipeline
    # executes once per consumer (r10 review: two FileScans of the
    # documents table in the live plan, doubling the only stage that
    # touches every token)
    bucketed = counts.withColumn(
        "b", F.pmod(F.xxhash64("term"), F.lit(ZIPF_RANK_BUCKETS))
    ).localCheckpoint(eager=True)
    census = bucketed.groupBy("freq", "b").agg(F.count("*").alias("n"))
    w_off = Window.orderBy(F.desc("freq"), F.asc("b")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = census.select(
        "freq", "b",
        F.coalesce(F.sum("n").over(w_off), F.lit(0)).alias("off"),
    )
    w_in = Window.partitionBy("freq", "b").orderBy(F.asc("term"))
    ranked = (
        bucketed.join(F.broadcast(offsets), ["freq", "b"])
        .withColumn("rank", F.col("off") + F.row_number().over(w_in))
    )
    return ranked.agg(
        F.count("*").alias("vocab_size"),
        F.round(
            F.expr("regr_slope(ln(freq), ln(rank))"), 6
        ).alias("zipf_slope"),
        F.round(F.expr("regr_r2(ln(freq), ln(rank))"), 6).alias("r2"),
    )


def text_vocab_growth(spark, sf_dir):
    """Heaps'-law vocabulary growth curve: distinct vocabulary size
    after each tenth of the corpus, documents assigned to tenths by a
    pure scrambled-key expression (a deterministic random shuffle-and-
    split — no global row_number sort, no driver-side count). Running
    DISTINCT without per-checkpoint rescans: each term contributes only
    at its FIRST tenth (a vocab-sized min aggregate); new-term counts
    per tenth then cumsum over the 10-row census. The only
    unpartitioned window runs over GROWTH_CHECKPOINTS rows."""
    from pyspark.sql.window import Window

    d = _docs(spark, sf_dir)
    checkpoint = (
        F.floor(
            scrambled_key(F.col("doc_id")) * GROWTH_CHECKPOINTS
            / F.lit(1_000_000_007)
        ) + 1
    ).cast("int")
    first_seen = (
        d.select(
            checkpoint.alias("checkpoint"),
            F.explode(_words(F.col("text"))).alias("term"),
        )
        .groupBy("term")
        .agg(F.min("checkpoint").alias("first_checkpoint"))
    )
    per_bucket = first_seen.groupBy(
        F.col("first_checkpoint").alias("checkpoint")
    ).agg(F.count("*").alias("new_terms"))
    w_cum = Window.orderBy("checkpoint").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_bucket.select(
        "checkpoint",
        "new_terms",
        F.sum("new_terms").over(w_cum).alias("vocab_size"),
    )


WEIGHTED_K = 50


def sample_weighted_topk(spark, sf_dir):
    """Weight-proportional sampling without replacement
    (Efraimidis-Spirakis A-Res): each document draws a deterministic
    pseudo-uniform u from its scrambled id and competes with key
    u^(1/weight); the K largest keys ARE a weight-proportional
    without-replacement sample. Weight here = n_chars (longer documents
    favored — the usual "sample by token mass" curation draw).

    Determinism: u is exact rational arithmetic on the scrambled id;
    pow is computed on identical doubles in both engines; ties are
    impossible (distinct u per doc_id). Scale shape: key is a per-row
    expression and the top-K is sort+limit (TakeOrderedAndProject:
    local per-partition top-K, K-row merge) — no global sort, no
    shuffle of non-survivors. One pass, any corpus size.
    """
    d = _docs(spark, sf_dir)
    u = (scrambled_key(F.col("doc_id")) + 1).cast("double") / (
        1_000_000_007 + 1
    )
    key = F.pow(u, 1.0 / F.col("n_chars"))
    return (
        d.select(
            "doc_id", "n_chars",
            F.round(key, 12).alias("draw_key"),
        )
        .orderBy(F.desc("draw_key"), F.asc("doc_id"))
        .limit(WEIGHTED_K)
    )


CHUNK_TOKENS = 128
CHUNK_STRIDE = 96  # 32-token overlap between consecutive chunks


def doc_chunk_spans(spark, sf_dir):
    """Sliding-window document chunking (the context-window prep step
    for RAG indexing / long-document training): each document explodes
    into CHUNK_TOKENS-token spans every CHUNK_STRIDE tokens, the final
    span truncated at the document end. Emits the span manifest
    (doc_id, chunk_no, start_tok, chunk_len) — the text slice itself is
    ``slice(words, start+1, len)`` on the same expressions when needed.

    Scale shape: pure per-row array arithmetic inside the scan stage —
    the explode multiplies rows by ~n_tokens/STRIDE but carries three
    ints per row, and there is NO shuffle at all: chunk manifests
    write straight back out partition-parallel. Chunk count/positions
    are exact integer functions of token count, so re-runs and the
    oracle agree bit-for-bit.
    """
    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    n = F.size(w)
    # number of stride steps: ceil(max(n - CHUNK, 0) / STRIDE) + 1
    n_chunks = (
        F.floor(
            (F.greatest(n - CHUNK_TOKENS, F.lit(0)) + CHUNK_STRIDE - 1)
            / CHUNK_STRIDE
        ) + 1
    ).cast("int")
    staged = d.where(n > 0).select(
        "doc_id", n.cast("bigint").alias("n_tokens"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_no"),
    )
    start = (F.col("chunk_no").cast("bigint") * CHUNK_STRIDE)
    return staged.select(
        "doc_id",
        F.col("chunk_no").cast("int").alias("chunk_no"),
        start.alias("start_tok"),
        F.least(F.lit(CHUNK_TOKENS).cast("bigint"),
                F.col("n_tokens") - start).alias("chunk_len"),
    )


# ---------------------------------------------------------------------------
# Sparse TF-vector cosine similarity via inverted-index join — the
# weighted companion to dedup_ngram_jaccard (set overlap) and the
# no-embedding fallback to dedup_embedding_cosine.
# ---------------------------------------------------------------------------

# threshold 0.98, applied as the EXACT integer predicate
# dot^2 * 10^4 >= 9604 * |a|^2 * |b|^2  — no float comparison can
# disagree between engines at the boundary.
SPARSE_T2_NUM = 9604
SPARSE_T2_DEN = 10_000
# 100 TB cap: terms appearing in more than max(floor, frac * n_docs)
# documents are dropped from the inverted index before pairing (a
# stop-term emits O(df^2) candidate pairs; its discriminative weight is
# ~0 anyway). The cap is RELATIVE (VERDICT r4 task 3: an absolute
# constant was inert on the synthetic corpus and the entry degenerated
# to all-pairs at sf0.1): frac scales it with the corpus, the absolute
# floor keeps the oracle non-empty and unchanged on tiny/synthetic
# corpora (sf0.01 has 500 docs, max df 402 < 1000). n_docs is computed
# in-plan (one-row aggregate, broadcast) — no driver round-trip.
SPARSE_DF_FLOOR = 1_000
SPARSE_DF_FRAC = 0.02


def text_sparse_cosine_pairs(spark, sf_dir):
    """Document-pair cosine similarity on raw term-frequency vectors,
    computed through an inverted index: explode terms, self-join on the
    term (each term contributes its tf product to every doc pair that
    shares it), aggregate dot products, normalize by exact integer
    norms.

    Scale shape: the shuffles carry (doc, term, tf) triples and
    (pair, partial-dot) counts — never document text; per-term fan-out
    is bounded by the relative stop-term cap max(SPARSE_DF_FLOOR,
    SPARSE_DF_FRAC * n_docs), which is what keeps the candidate set
    near-linear on a Zipfian corpus. All similarity math until the
    final display column is int64 (tf products, squared norms), so the
    >= threshold predicate is exact in both engines.
    """
    return _sparse_cosine_pairs(
        _docs(spark, sf_dir), SPARSE_DF_FLOOR, SPARSE_DF_FRAC
    )


def _sparse_cosine_pairs(d, df_floor, df_frac):
    w = _words(F.col("text"))
    tf = (
        d.where(F.size(w) > 0)
        .select("doc_id", F.explode(w).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        # tf feeds the df marginal AND the kept join: barrier here makes
        # the text explode run ONCE (measured: 8 FileScans of documents
        # in the fully unbarriered plan; pinned in
        # test_plans.py::test_sparse_cosine_single_text_scan)
        .localCheckpoint(eager=True)
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    # relative cap: one-row corpus count broadcast onto the term-df
    # marginal (both frames are metadata-scale)
    nd = tf.agg(F.count_distinct("doc_id").alias("n_docs"))
    cap = F.greatest(
        F.lit(df_floor).cast("bigint"),
        F.floor(F.lit(df_frac) * F.col("n_docs")).cast("bigint"),
    )
    terms_kept = (
        df_.crossJoin(F.broadcast(nd))
        .where(F.col("df") <= cap)
        .select("term")
    )
    # kept then feeds four subtrees (norms, prefix, probe, verify) —
    # second barrier so the df-cap join also executes once
    kept = tf.join(
        F.broadcast(terms_kept.select("term")), "term"
    ).select("doc_id", "term", "tf").localCheckpoint(eager=True)
    norms = kept.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("n2")
    )
    # --- AllPairs/SSJoin prefix filter (Bayardo-Ma-Srikant, WWW'07) ---
    # Exactness bound: with terms in a fixed global order (df asc, term
    # asc — rarest first), if a pair shares NO term from doc x's prefix
    # P(x), every shared term lies in x's suffix, so by Cauchy-Schwarz
    # dot <= |suffix(x)| * |y| < t*|x|*|y|, i.e. cos < t. Hence every
    # qualifying pair shares a term that is in the PREFIX of at least
    # one side, and candidate generation only joins the prefix postings
    # (1 + ~(1-t^2)*m terms per doc, and the rarest ones) against the
    # full index — sum(prefix_df * df) candidates instead of sum(df^2).
    # Row i is in the prefix iff its INCLUSIVE suffix norm^2 still
    # satisfies S_i >= t^2 * n2 (S decreasing in i), checked in exact
    # integer arithmetic like the final threshold.
    kept_df = kept.join(F.broadcast(df_), "term")
    w_suf = (
        Window.partitionBy("doc_id")
        .orderBy(F.asc("df"), F.asc("term"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    suffix_sq = F.sum(F.col("tf") * F.col("tf")).over(w_suf)
    prefix = (
        kept_df.withColumn("s_i", suffix_sq)
        .join(norms, "doc_id")
        .where(F.col("s_i") * F.lit(SPARSE_T2_DEN)
               >= F.lit(SPARSE_T2_NUM) * F.col("n2"))
        .select("doc_id", "term")
    )
    cand = (
        prefix.select(F.col("doc_id").alias("doc_p"), "term")
        .join(kept.select(F.col("doc_id").alias("doc_f"), "term"), "term")
        .where(F.col("doc_p") != F.col("doc_f"))
        .select(
            F.least("doc_p", "doc_f").alias("doc_a"),
            F.greatest("doc_p", "doc_f").alias("doc_b"),
        )
        .distinct()
    )
    ka = kept.select(F.col("doc_id").alias("doc_a"), "term",
                     F.col("tf").alias("tf_a"))
    kb = kept.select(F.col("doc_id").alias("doc_b"), "term",
                     F.col("tf").alias("tf_b"))
    dots = (
        cand.join(ka, "doc_a")
        .join(kb, ["doc_b", "term"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    return (
        dots.join(na, "doc_a").join(nb, "doc_b")
        .where(
            F.col("dot") * F.col("dot") * F.lit(SPARSE_T2_DEN)
            >= F.lit(SPARSE_T2_NUM) * F.col("na2") * F.col("nb2")
        )
        .select(
            "doc_a", "doc_b", "dot",
            F.round(
                F.col("dot") / F.sqrt(F.col("na2") * F.col("nb2")), 6
            ).alias("cosine"),
        )
    )


LM_SCALE = 1e12  # per-bigram NLL quantization -> order-free bigint sums


def text_bigram_perplexity(spark, sf_dir):
    """Per-document surprisal under an interpolated corpus bigram LM
    (0.75 * p_bigram + 0.25 * p_unigram, MLE counts) — the
    perplexity-style quality signal pretraining pipelines bucket and
    sample by (cf. CCNet/Wikipedia-LM filtering), self-contained: the
    model is estimated from the corpus itself in the same dataflow.

    Scale shape: the corpus collapses to hash streams behind one
    checkpoint barrier; the model is (bigram-type)-sized — counts-only
    shuffles keyed on 8-byte portable hashes, never text; scoring is
    ONE equi-join of the positional bigram stream against the model.
    Per-bigram -ln p is computed from exact integer count ratios and
    quantized to bigint before the per-doc SUM (order-free, the
    corpus_split_kl_drift discipline). Docs with <2 words drop out
    (no bigrams). Hash note: MOD-1e9+7 bigram-key collisions would
    duplicate join rows identically on both engines (parity-safe); at
    web-corpus vocabulary the production key is the 128-bit pair."""
    from ..functions.text import MOD, word_hashes

    d = _docs(spark, sf_dir)
    staged = d.select(
        "doc_id", word_hashes(_words(F.col("text"))).alias("wh")
    ).localCheckpoint(eager=True)  # feeds unigram AND bigram streams
    uni = staged.select(F.explode("wh").alias("w"))
    cu = uni.groupBy("w").agg(F.count("*").alias("cu"))
    n_tok = uni.agg(F.count("*").cast("bigint").alias("n"))
    bi = (
        staged.where(F.size("wh") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("wh") - 1),
                    lambda i: F.struct(
                        F.element_at("wh", i).alias("w1"),
                        F.element_at("wh", i + 1).alias("w2"),
                    ),
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        # portable bigram key: the same two-step fold as shingle_hashes(k=2)
        .withColumn(
            "bg", (F.lit(7).cast("bigint") * 131 + F.col("w1")) % F.lit(MOD)
        )
        .withColumn("bg", (F.col("bg") * 131 + F.col("w2")) % F.lit(MOD))
        .localCheckpoint(eager=True)  # feeds model estimate AND scoring join
    )
    cells = bi.groupBy("w1", "w2", "bg").agg(F.count("*").alias("cb"))
    ctx = cells.groupBy("w1").agg(F.sum("cb").cast("bigint").alias("cw1"))
    model = (
        cells.join(ctx, "w1")
        .join(cu.withColumnRenamed("w", "w2"), "w2")
        .crossJoin(F.broadcast(n_tok))
        .select(
            "bg",
            F.floor(
                -F.log(
                    (F.lit(0.75) * F.col("cb")) / F.col("cw1")
                    + (F.lit(0.25) * F.col("cu")) / F.col("n")
                ) * F.lit(LM_SCALE)
            ).cast("bigint").alias("q"),
        )
    )
    return (
        bi.select("doc_id", "bg")
        .join(model, "bg")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("q").alias("sq"))
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                F.col("sq").cast("double") / F.col("n_bigrams") / F.lit(LM_SCALE),
                6,
            ).alias("avg_nll"),
        )
    )


PPL_PROBS = (1.0 / 3.0, 2.0 / 3.0)
_PPL_LABELS = ("head", "middle", "tail")


def sample_perplexity_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing (Wenzek et al., LREC'20): split
    the corpus into head / middle / tail tertiles of LM surprisal
    (text_bigram_perplexity's per-doc score) and report each bucket's
    document count, token mass, and mean NLL — the table behind
    "sample 60% head / 30% middle / 10% tail" pretraining mixes.

    Scale shape: the per-doc score frame is checkpointed once and
    feeds both the tertile-boundary aggregate and bucket assignment
    (boundaries broadcast back as one row — the equidepth-histogram
    pattern, never a global ntile sort). The exact percentile here is
    oracle-grade; at 100 TB the drop-in swap is approx_percentile
    (mergeable sketch) with the same downstream plan. Bucket means go
    through 1e6-quantized integers so the sum is order-free."""
    scored = text_bigram_perplexity(spark, sf_dir).localCheckpoint(
        eager=True
    )  # feeds boundary estimate AND bucket assignment
    probs = "array(" + ", ".join(repr(p) for p in PPL_PROBS) + ")"
    bounds = scored.agg(F.expr(f"percentile(avg_nll, {probs})").alias("bnds"))
    bucket = (
        F.size(F.filter("bnds", lambda b: F.col("avg_nll") > b))
        .cast("bigint").alias("bucket")
    )
    label = F.element_at(
        F.array(*[F.lit(s) for s in _PPL_LABELS]),
        (F.col("bucket") + 1).cast("int"),
    )
    return (
        scored.crossJoin(F.broadcast(bounds))
        .select(
            bucket,
            "n_bigrams",
            F.round(F.col("avg_nll") * 1e6).cast("bigint").alias("q"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bigrams").cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum("q").cast("double") / F.count("*") / F.lit(1e6), 6
            ).alias("mean_nll"),
        )
        .select("bucket", label.alias("label"), "n_docs", "n_bigrams",
                "mean_nll")
    )


BPE_TOP = 20


def text_bpe_merge_step(spark, sf_dir):
    """One BPE-training merge step (Sennrich et al., ACL'16): corpus-
    weighted counts of adjacent character pairs over the word-type
    vocabulary, top-{BPE_TOP} by count — the argmax of this table IS
    the next merge a tokenizer-training run would apply.

    Scale shape: the corpus collapses to its word-TYPE vocabulary
    first (one token-count aggregate — vocabulary is orders of
    magnitude smaller than the corpus, and at 100 TB this is the only
    stage that sees every token); character-pair explosion then runs
    over vocab-sized input with the type count as the weight, so the
    pair aggregate is |alphabet|^2-sized and map-side combined. This
    two-level decomposition (corpus -> types -> pairs) is exactly why
    BPE training scales: no pass after the first ever touches the
    corpus again. TakeOrdered(20) on (count desc, pair) — a total
    order, no global sort materialized."""
    d = _docs(spark, sf_dir)
    types = (
        d.select(F.explode(_words(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .where(F.length("w") >= 2)
    )
    pairs = types.select(
        "cnt",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.concat(
                    F.col("w").substr(i, F.lit(1)),
                    F.col("w").substr(i + 1, F.lit(1)),
                ),
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "pair")
        .limit(BPE_TOP)
    )


ORACLE_SQL = {
    "text_bigram_perplexity": f"""
        WITH wh_t AS (
            SELECT doc_id, {duck_word_hashes(_DUCK_WORDS)} AS wh FROM documents
        ), uni AS (
            SELECT unnest(wh) AS w FROM wh_t
        ), cu AS (
            SELECT w, count(*) AS cu FROM uni GROUP BY w
        ), nt AS (
            SELECT CAST(count(*) AS BIGINT) AS n FROM uni
        ), bh_t AS (
            SELECT doc_id, wh, {duck_shingle_hashes(k=2)} AS bh
            FROM wh_t WHERE len(wh) >= 2
        ), bi AS (
            SELECT doc_id,
                   wh[unnest(range(1, len(bh) + 1))] AS w1,
                   wh[unnest(range(2, len(bh) + 2))] AS w2,
                   unnest(bh) AS bg
            FROM bh_t
        ), cells AS (
            SELECT w1, w2, bg, count(*) AS cb FROM bi GROUP BY 1, 2, 3
        ), ctx AS (
            SELECT w1, CAST(sum(cb) AS BIGINT) AS cw1 FROM cells GROUP BY 1
        ), model AS (
            SELECT bg,
                   CAST(floor(-ln((0.75 * cb) / cw1 + (0.25 * cu) / nt.n)
                              * {LM_SCALE!r}) AS BIGINT) AS q
            FROM cells
            JOIN ctx USING (w1)
            JOIN cu ON cu.w = cells.w2
            CROSS JOIN nt
        )
        SELECT doc_id, count(*) AS n_bigrams,
               round(CAST(sum(q) AS DOUBLE) / count(*) / {LM_SCALE!r}, 6)
                   AS avg_nll
        FROM bi JOIN model USING (bg)
        GROUP BY doc_id
    """,
    "text_bpe_merge_step": f"""
        WITH types AS (
            SELECT w, count(*) AS cnt
            FROM (SELECT unnest({_DUCK_WORDS}) AS w FROM documents)
            GROUP BY w HAVING length(w) >= 2
        ), pairs AS (
            SELECT cnt,
                   unnest(list_transform(range(1, length(w)),
                          i -> w[i] || w[i+1])) AS pair
            FROM types
        )
        SELECT pair, CAST(sum(cnt) AS BIGINT) AS pair_count
        FROM pairs GROUP BY pair
        ORDER BY pair_count DESC, pair LIMIT {BPE_TOP}
    """,
    "contamination_ngram_overlap": f"""
        WITH words AS (
            SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
            WHERE len({_DUCK_WORDS}) >= {N_GRAM}
        ), grams_raw AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(w) - {N_GRAM} + 2),
                          i -> array_to_string(w[i:i+{N_GRAM - 1}], ' '))) AS g
            FROM words
        ), grams AS (
            SELECT DISTINCT doc_id, g FROM grams_raw
        ), bench AS (
            SELECT DISTINCT g FROM grams WHERE doc_id % {BENCH_MOD} = 0
        )
        SELECT doc_id, count(*) AS n_overlap
        FROM grams JOIN bench USING (g)
        WHERE doc_id % {BENCH_MOD} <> 0
        GROUP BY doc_id
    """,
    "text_repetition_stats": f"""
        WITH staged AS (
            SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
            WHERE len({_DUCK_WORDS}) >= 2
        ), per_bigram AS (
            SELECT doc_id, bigram, count(*) AS cnt FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(w)),
                              i -> w[i] || ' ' || w[i+1])) AS bigram
                FROM staged
            ) GROUP BY doc_id, bigram
        ), per_doc AS (
            SELECT doc_id, max(cnt) AS top_cnt, sum(cnt) AS total_bi
            FROM per_bigram GROUP BY doc_id
        )
        SELECT s.doc_id,
               len(s.w) AS n_tokens,
               round(1.0 - CAST(len(list_distinct(s.w)) AS DOUBLE) / len(s.w), 4)
                   AS dup_word_frac,
               round(CAST(p.top_cnt AS DOUBLE) / p.total_bi, 4)
                   AS top_bigram_frac
        FROM staged s JOIN per_doc p USING (doc_id)
    """,
    "text_c4_filters": f"""
        WITH s AS (
            SELECT doc_id,
                   len({_DUCK_WORDS}) AS n,
                   CAST(len(list_distinct({_DUCK_WORDS})) AS DOUBLE)
                       / len({_DUCK_WORDS}) AS dr,
                   len(list_filter({_DUCK_WORDS},
                       x -> x IN ('the', 'a'))) > 0 AS has_stop
            FROM documents WHERE len({_DUCK_WORDS}) > 0
        )
        SELECT doc_id,
               CAST(n >= {MIN_TOKENS} AND n <= {MAX_TOKENS} AS INT) AS len_ok,
               CAST(dr >= {MIN_DISTINCT_RATIO} AS INT) AS diversity_ok,
               CAST(has_stop AS INT) AS stopword_ok,
               CAST((n >= {MIN_TOKENS} AND n <= {MAX_TOKENS})
                   AND dr >= {MIN_DISTINCT_RATIO} AND has_stop AS INT) AS keep
        FROM s
    """,
    "sample_domain_mix": f"""
        WITH quota AS (
            SELECT source,
                   CAST(floor({MIX_MULT} * sqrt(count(*))) AS BIGINT) AS k_s
            FROM documents GROUP BY source
        ), ranked AS (
            SELECT doc_id, source,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY {scrambled_key_sql('doc_id')}, doc_id
                   ) AS rk
            FROM documents
        )
        SELECT doc_id, source, rk
        FROM ranked JOIN quota USING (source)
        WHERE rk <= k_s
    """,
    "sample_token_budget": f"""
        WITH toks AS (
            SELECT doc_id, source,
                   len({_DUCK_WORDS}) AS n_tokens,
                   {scrambled_key_sql('doc_id')} AS ok
            FROM documents
        ), cums AS (
            SELECT doc_id, source, n_tokens,
                   CAST(sum(n_tokens) OVER (
                       PARTITION BY source ORDER BY ok, doc_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
            FROM toks
        )
        SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens, cum_tokens
        FROM cums
        WHERE cum_tokens - n_tokens < {TOKEN_BUDGET}
    """,
    "text_token_length_dist": f"""
        WITH lengths AS (
            SELECT unnest(list_transform({_DUCK_WORDS}, x -> len(x)))
                AS token_len
            FROM documents
        ), counts AS (
            SELECT token_len, count(*) AS n_tokens FROM lengths
            GROUP BY token_len
        ), total AS (
            SELECT CAST(count(*) AS DOUBLE) AS total FROM lengths
        )
        SELECT CAST(token_len AS INT) AS token_len, n_tokens,
               round(n_tokens / total, 6) AS share
        FROM counts CROSS JOIN total
    """,
    "text_boilerplate_prefixes": f"""
        WITH staged AS (
            SELECT doc_id,
                   array_to_string({_DUCK_WORDS}[1:{PREFIX_TOKENS}], ' ')
                       AS prefix
            FROM documents
            WHERE len({_DUCK_WORDS}) >= {PREFIX_TOKENS}
        )
        SELECT min(doc_id) AS first_doc_id, count(*) AS n_docs
        FROM staged GROUP BY prefix
        HAVING count(*) >= 2
    """,
    "doc_source_entropy": """
        WITH cells AS (
            SELECT source, lang, count(*) AS cnt FROM documents
            GROUP BY source, lang
        ), totals AS (
            SELECT source, sum(cnt) AS total FROM cells GROUP BY source
        )
        SELECT source,
               CAST(count(*) AS INT) AS n_langs,
               round(-sum(CAST(round((CAST(cnt AS DOUBLE) / total)
                                     * ln(CAST(cnt AS DOUBLE) / total)
                                     * 1e9) AS BIGINT)) / 1e9, 6)
                   AS lang_entropy,
               CAST(any_value(total) AS BIGINT) AS n_docs
        FROM cells JOIN totals USING (source)
        GROUP BY source
    """,
    "text_zipf_fit": f"""
        WITH counts AS (
            SELECT term, count(*) AS freq FROM (
                SELECT unnest({_DUCK_WORDS}) AS term FROM documents
            ) GROUP BY term
        ), ranked AS (
            SELECT freq,
                   row_number() OVER (ORDER BY freq DESC, term ASC) AS rank
            FROM counts
        )
        SELECT count(*) AS vocab_size,
               round(regr_slope(ln(freq), ln(rank)), 6) AS zipf_slope,
               round(regr_r2(ln(freq), ln(rank)), 6) AS r2
        FROM ranked
    """,
    "text_vocab_growth": f"""
        WITH first_seen AS (
            SELECT term,
                   min(CAST(floor({scrambled_key_sql('doc_id')}
                                  * {GROWTH_CHECKPOINTS} / 1000000007)
                            AS INT) + 1) AS checkpoint
            FROM (
                SELECT doc_id, unnest({_DUCK_WORDS}) AS term FROM documents
            ) GROUP BY term
        ), per_bucket AS (
            SELECT checkpoint, count(*) AS new_terms
            FROM first_seen GROUP BY checkpoint
        )
        SELECT checkpoint, new_terms,
               CAST(sum(new_terms) OVER (ORDER BY checkpoint
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
        FROM per_bucket
    """,
    "sample_weighted_topk": f"""
        SELECT doc_id, n_chars,
               round(pow(CAST({scrambled_key_sql('doc_id')} + 1 AS DOUBLE)
                         / 1000000008, 1.0 / n_chars), 12) AS draw_key
        FROM documents
        ORDER BY draw_key DESC, doc_id ASC
        LIMIT {WEIGHTED_K}
    """,
    "doc_chunk_spans": f"""
        WITH staged AS (
            SELECT doc_id,
                   len({_DUCK_WORDS}) AS n_tokens,
                   unnest(range(0,
                       CAST(floor((greatest(len({_DUCK_WORDS}) - {CHUNK_TOKENS}, 0)
                                   + {CHUNK_STRIDE} - 1) / {CHUNK_STRIDE}) AS BIGINT)
                       + 1)) AS chunk_no
            FROM documents WHERE len({_DUCK_WORDS}) > 0
        )
        SELECT doc_id,
               CAST(chunk_no AS INT) AS chunk_no,
               chunk_no * {CHUNK_STRIDE} AS start_tok,
               least({CHUNK_TOKENS}, n_tokens - chunk_no * {CHUNK_STRIDE})
                   AS chunk_len
        FROM staged
    """,
    "text_sparse_cosine_pairs": f"""
        WITH tf AS (
            SELECT doc_id, term, count(*) AS tf FROM (
                SELECT doc_id, unnest({_DUCK_WORDS}) AS term FROM documents
                WHERE len({_DUCK_WORDS}) > 0
            ) GROUP BY doc_id, term
        ), df AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), nd AS (
            SELECT count(DISTINCT doc_id) AS n_docs FROM tf
        ), kept AS (
            SELECT tf.doc_id, tf.term, tf.tf
            FROM tf JOIN df USING (term), nd
            WHERE df.df <= GREATEST(
                CAST({SPARSE_DF_FLOOR} AS BIGINT),
                CAST(floor({SPARSE_DF_FRAC!r} * nd.n_docs) AS BIGINT))
        ), norms AS (
            SELECT doc_id, sum(tf * tf) AS n2 FROM kept GROUP BY doc_id
        ), dots AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
            FROM kept a JOIN kept b
              ON a.term = b.term AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, dot,
               round(dot / sqrt(CAST(na.n2 * nb.n2 AS DOUBLE)), 6) AS cosine
        FROM dots
        JOIN norms na ON dots.doc_a = na.doc_id
        JOIN norms nb ON dots.doc_b = nb.doc_id
        WHERE dot * dot * {SPARSE_T2_DEN} >= {SPARSE_T2_NUM} * na.n2 * nb.n2
    """,
    "text_tfidf_topk": f"""
        WITH terms AS (
            SELECT doc_id, unnest({_DUCK_WORDS}) AS term FROM documents
            WHERE len({_DUCK_WORDS}) > 0
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf FROM terms
            GROUP BY doc_id, term
        ), df AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), n AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents
            WHERE len({_DUCK_WORDS}) > 0
        ), ranked AS (
            SELECT tf.doc_id, tf.term, tf.tf, df.df,
                   row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY tf.tf DESC, df.df ASC, tf.term ASC
                   ) AS rk,
                   round(tf.tf * ln(n.n_docs / df.df), 3) AS tfidf
            FROM tf JOIN df USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, tf, df, CAST(rk AS INT) AS rk, tfidf
        FROM ranked WHERE rk <= {TFIDF_K}
    """,
    "corpus_best_per_source": f"""
        WITH ranked AS (
            SELECT doc_id, source, lang, n_chars,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY n_chars DESC, doc_id ASC
                   ) AS rk
            FROM documents
        )
        SELECT doc_id, source, lang, n_chars, CAST(rk AS INT) AS rk
        FROM ranked WHERE rk <= {BEST_K}
    """,
    "corpus_length_trim": f"""
        WITH bounds AS (
            SELECT lang,
                   quantile_cont(n_chars, {TRIM_LO}) AS lo,
                   quantile_cont(n_chars, {TRIM_HI}) AS hi
            FROM documents GROUP BY lang
        )
        SELECT d.doc_id, d.lang, d.n_chars
        FROM documents d JOIN bounds b USING (lang)
        WHERE CAST(d.n_chars AS DOUBLE) BETWEEN b.lo AND b.hi
    """,
    "corpus_shard_manifest": f"""
        SELECT {scrambled_key_sql('doc_id', MANIFEST_SHARDS)} AS shard,
               count(*) AS n_docs,
               CAST(sum(len({_DUCK_WORDS})) AS BIGINT) AS total_tokens,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY shard
    """,
    "pack_sequences": f"""
        WITH toks AS (
            SELECT doc_id,
                   len({_DUCK_WORDS}) AS n_tokens,
                   {scrambled_key_sql('doc_id', SHARDS)} AS shard
            FROM documents
        ), binned AS (
            SELECT shard, n_tokens,
                   CAST(floor((sum(n_tokens) OVER (
                            PARTITION BY shard ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) - n_tokens)
                        / {SEQ_LEN}) AS BIGINT) AS bin_id
            FROM toks
        )
        SELECT shard, bin_id, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
        FROM binned GROUP BY shard, bin_id
    """,
}

ORACLE_SQL["sample_perplexity_buckets"] = (
    "WITH scored AS (" + ORACLE_SQL["text_bigram_perplexity"] + "), "
    + f"""bounds AS (
        SELECT quantile_cont(avg_nll,
                             [{PPL_PROBS[0]!r}, {PPL_PROBS[1]!r}]) AS bnds
        FROM scored
    )
    SELECT bucket,
           CASE bucket WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                ELSE 'tail' END AS label,
           count(*) AS n_docs,
           CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
           round(CAST(sum(q) AS DOUBLE) / count(*) / 1e6, 6) AS mean_nll
    FROM (
        SELECT CAST(len(list_filter(b.bnds, x -> s.avg_nll > x)) AS BIGINT)
                   AS bucket,
               s.n_bigrams,
               CAST(round(s.avg_nll * 1e6) AS BIGINT) AS q
        FROM scored s CROSS JOIN bounds b
    )
    GROUP BY bucket
    """
)

QUERIES = {
    "sample_perplexity_buckets": sample_perplexity_buckets,
    "text_bigram_perplexity": text_bigram_perplexity,
    "text_bpe_merge_step": text_bpe_merge_step,
    "doc_chunk_spans": doc_chunk_spans,
    "sample_weighted_topk": sample_weighted_topk,
    "text_zipf_fit": text_zipf_fit,
    "text_vocab_growth": text_vocab_growth,
    "doc_source_entropy": doc_source_entropy,
    "text_boilerplate_prefixes": text_boilerplate_prefixes,
    "text_token_length_dist": text_token_length_dist,
    "text_sparse_cosine_pairs": text_sparse_cosine_pairs,
    "text_tfidf_topk": text_tfidf_topk,
    "corpus_best_per_source": corpus_best_per_source,
    "corpus_length_trim": corpus_length_trim,
    "corpus_shard_manifest": corpus_shard_manifest,
    "contamination_ngram_overlap": contamination_ngram_overlap,
    "text_repetition_stats": text_repetition_stats,
    "text_c4_filters": text_c4_filters,
    "pack_sequences": pack_sequences,
    "sample_domain_mix": sample_domain_mix,
    "sample_token_budget": sample_token_budget,
}
