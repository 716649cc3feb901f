"""Training-mixture construction operators (LLM-data-pipeline family):
DSIR importance weighting, fastText-style quality-classifier inference,
and temperature-based domain mixing.

These are the three standard levers for turning a curated corpus into a
training MIXTURE: score each document's closeness to a target domain
(DSIR, Xie et al. 2023 — hashed-n-gram importance resampling), score
its quality with a linear classifier over hashed bag-of-words features
(the fastText shape used by CCNet / FineWeb-edu filtering), and set
per-domain sampling rates with a temperature exponent (the multilingual
mixing rule of XLM-R / mT5).

Scale shapes (100 TB): everything reduces through HASH-BUCKET models of
fixed size (1024 buckets here) — the corpus is exploded to (doc, bucket)
once per query, aggregated map-side, and joined only against broadcast
model tables; no shuffle ever carries text, and the model build is two
bucket-keyed aggregates, not a vocabulary shuffle.

Determinism: bucket ids come from the portable polynomial word hash
(functions/text.py) so Spark and DuckDB agree bit-for-bit; per-bucket
ln() ratios are rounded to 9 dp and summed as DECIMAL(18,9) (order-free,
the house text_unigram_logprob pattern); the classifier is pure integer
arithmetic; temperature mixing uses alpha=0.5 so the only non-rational
op is IEEE-exact sqrt, floor-quantized before the sum.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import MOD, char_fold_hash, duck_char_fold_hash
from ..sources.parquet import fan_out, load_table

N_BUCKETS = 1024
TARGET_LANG = "en"  # stand-in target domain for the DSIR weight
SMOOTH_LAMBDA = 0.01  # Jelinek-Mercer mix with the uniform over buckets

_WORDS = lambda col: F.filter(F.split(col, " "), lambda x: x != "")  # noqa: E731
_DUCK_WORDS = "list_filter(string_split(text, ' '), x -> x <> '')"


def _docs(spark, sf_dir):
    return fan_out(spark, load_table(spark, sf_dir, "documents"))


def _doc_buckets(d):
    """(doc_id, lang, bucket) token stream: portable word hash mod
    N_BUCKETS. The explode is the only corpus-sized stage in this
    module; everything downstream is bucket- or doc-keyed."""
    w = _WORDS(F.col("text"))
    return d.where(F.size(w) > 0).select(
        "doc_id",
        "lang",
        F.explode(F.transform(w, lambda x: char_fold_hash(x) % N_BUCKETS))
        .alias("bucket"),
    )


_DUCK_BUCKETS = f"""
        SELECT doc_id, lang,
               unnest(list_transform({_DUCK_WORDS},
                      w -> {duck_char_fold_hash('w')} % {N_BUCKETS})) AS bucket
        FROM documents
        WHERE len({_DUCK_WORDS}) > 0
"""


def _bucket_spine(spark):
    """(bucket) for every one of the N_BUCKETS buckets, from range(),
    so zero-count buckets still get a model row."""
    return spark.range(N_BUCKETS).select(F.col("id").cast("bigint").alias("bucket"))


def _bucket_model(spark, toks):
    """The hashed-unigram bucket model of a (lang, bucket) token
    stream: (bucket, c_raw, c_tgt, n_raw, n_tgt) over the full bucket
    spine — raw count and FILTERed target count in ONE bucket-keyed
    aggregate, plus the broadcast corpus totals."""
    counts = toks.groupBy("bucket").agg(
        F.count("*").alias("c_raw"),
        F.count_if(F.col("lang") == TARGET_LANG).alias("c_tgt"),
    )
    model = (
        _bucket_spine(spark).join(counts, "bucket", "left")
        .select("bucket",
                F.coalesce("c_raw", F.lit(0)).alias("c_raw"),
                F.coalesce("c_tgt", F.lit(0)).alias("c_tgt"))
    )
    totals = model.agg(F.sum("c_raw").alias("n_raw"), F.sum("c_tgt").alias("n_tgt"))
    return model.crossJoin(F.broadcast(totals))


def _smoothed(c, n):
    """Jelinek-Mercer mix of the count model with the uniform over
    buckets: (1-l)*c/n + l/B."""
    return (F.lit(1 - SMOOTH_LAMBDA) * F.col(c)
            / F.greatest(F.col(n), F.lit(1))
            + F.lit(SMOOTH_LAMBDA / N_BUCKETS))


def _log_ratio():
    """``lr``: the DSIR per-bucket log p_target - log p_raw over a
    _bucket_model row, rounded to 9 dp as DECIMAL(18,9) (order-free
    sums)."""
    return F.round(
        F.log(_smoothed("c_tgt", "n_tgt")) - F.log(_smoothed("c_raw", "n_raw")),
        9,
    ).cast("decimal(18,9)").alias("lr")


def _bucket_weight():
    """``w``: the fixed synthetic classifier weight of a bucket (see
    _W_MULT below)."""
    return ((F.col("bucket") + 1) * _W_MULT % _W_RANGE - (_W_RANGE - 1) / 2
            ).cast("bigint").alias("w")


def sample_importance_weights(spark, sf_dir):
    """DSIR importance weight per document: log p_target(doc) -
    log p_raw(doc) under hashed-unigram models of the target domain
    (lang = 'en' here) vs the whole corpus, Jelinek-Mercer smoothed
    with the uniform. Documents that look like the target domain get
    positive log-weights; resampling by exp(weight) shifts the mixture
    toward the target (Xie et al. 2023, arXiv:2302.03169).

    Plan: one corpus explode -> two 1024-group aggregates (target /
    raw) -> per-bucket log-ratio table (<=1024 rows, broadcast) ->
    per-doc decimal sum. The bucket spine comes from range() so
    zero-count buckets still carry their smoothed ratio.

    Smoothing is Jelinek-Mercer interpolation with the uniform,
    p = (1-l)*c/n + l/B: unlike add-1 it scales with the corpus, so a
    small target model isn't drowned by B pseudo-counts (add-1 made
    EVERY ratio negative whenever n_tgt << B — caught by the
    crafted-fixture test before it shipped)."""
    d = _docs(spark, sf_dir)
    toks = _doc_buckets(d)
    # ONE corpus pass builds both models: raw count + FILTERed target
    # count in the same bucket-keyed aggregate (at 100 TB the corpus is
    # scanned exactly twice total — once for the model, once for the
    # scoring join; there is no third target-only pass)
    logratio = _bucket_model(spark, toks).select("bucket", _log_ratio())
    return (
        toks.join(F.broadcast(logratio), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.sum("lr").cast("double"), 6).alias("log_weight"),
        )
        .select("doc_id", "lang", "n_tokens", "log_weight")
    )


# fixed synthetic weight table: w(b) = ((b+1) * 2654435761) % 2001 - 1000,
# an integer in [-1000, 1000]. Stands in for trained fastText weights —
# the INFERENCE plumbing (hashed features -> broadcast weight join ->
# per-doc reduce -> threshold) is exactly what a real classifier needs;
# swapping in learned weights changes one table.
_W_MULT = 2654435761
_W_RANGE = 2001
_HQ_MEAN_MILLI = 50  # label hq when mean token weight > 0.05


def text_classifier_score(spark, sf_dir):
    """fastText-style linear quality-classifier INFERENCE at corpus
    scale: hashed bag-of-words features, a broadcast 1024-row weight
    table, one map-side-combined per-doc reduce, and an integer
    threshold (mean weight > 0.05 <=> sum_w > 50*n_tokens / 1000 —
    kept rational so parity is exact). The CCNet/FineWeb-edu filter
    shape with a deterministic stand-in for the trained weights."""
    d = _docs(spark, sf_dir)
    toks = _doc_buckets(d)
    weights = _bucket_spine(spark).select("bucket", _bucket_weight())
    return (
        toks.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("w").alias("sum_w"))
        .select(
            "doc_id", "n_tokens", "sum_w",
            (F.col("sum_w") * 1000 > F.lit(_HQ_MEAN_MILLI) * F.col("n_tokens"))
            .alias("label_hq"),
        )
    )


TEMPERATURE_ALPHA = 0.5  # p_d ~ tokens_d^alpha; 0.5 keeps every op exact


def sample_temperature_mix(spark, sf_dir):
    """Temperature-based domain mixing census: per source, raw token
    share vs the alpha=0.5 tempered sampling share p_d =
    sqrt(c_d)/sum(sqrt(c)) (the XLM-R / mT5 multilingual rule —
    upweights small domains, tempers the head), plus the boost factor
    a sampler would apply. sqrt is IEEE-exact and floor-quantized to
    1e-9 before the cross-domain sum, so the ratio is deterministic.
    Output is domain-cardinality (~20 rows)."""
    d = _docs(spark, sf_dir)
    w = _WORDS(F.col("text"))
    per_src = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(w)).cast("bigint").alias("n_tokens"),
    )
    q = F.floor(F.sqrt(F.col("n_tokens").cast("double")) * F.lit(1e9)).cast("bigint")
    srcs = per_src.select("source", "n_docs", "n_tokens", q.alias("q_sqrt"))
    totals = srcs.agg(F.sum("n_tokens").alias("tot_tokens"),
                      F.sum("q_sqrt").alias("tot_sqrt"))
    return (
        srcs.crossJoin(F.broadcast(totals))
        .select(
            "source", "n_docs", "n_tokens",
            F.round(F.col("n_tokens") / F.col("tot_tokens"), 6).alias("p_raw"),
            F.round(F.col("q_sqrt") / F.col("tot_sqrt"), 6).alias("p_temp"),
            F.round((F.col("q_sqrt") / F.col("tot_sqrt"))
                    / (F.col("n_tokens") / F.col("tot_tokens")), 4).alias("boost"),
        )
    )


MIX_TOKEN_BUDGET = 1_000_000  # tokens to allocate across domains


def _mixture_frames(spark, sf_dir, shared: bool = False):
    """(kept per-doc frame, per-source budget summary) — the composed
    mixture dataflow with the corpus token stream exploded ONCE and
    scored against BOTH broadcast bucket models (weights + log-ratios)
    in the same pass. ``shared=True`` checkpoints the kept frame for
    callers with two consumers (the summary aggregate AND the
    quota-admission window in _mixture_selected) — one materialization
    instead of re-exploding the corpus per consumer; the summary-only
    entry skips the checkpoint (measured +0.7 s of pure overhead on a
    single-consumer plan)."""
    d = _docs(spark, sf_dir)
    toks = _doc_buckets_src(d)
    scores = _bucket_model(spark, toks).select(
        "bucket", _log_ratio(), _bucket_weight())
    per_doc = (
        toks.join(F.broadcast(scores), "bucket")
        .groupBy("doc_id", "source")
        .agg(F.count("*").alias("n_tokens"),
             F.sum("w").alias("sum_w"),
             F.sum("lr").alias("sum_lr"))
    )
    kept = per_doc.where(
        F.col("sum_w") * 1000 > F.lit(_HQ_MEAN_MILLI) * F.col("n_tokens"))
    if shared:
        kept = kept.localCheckpoint(eager=True)
    per_src = kept.groupBy("source").agg(
        F.count("*").alias("n_docs_kept"),
        F.sum("n_tokens").alias("n_tokens_kept"),
        F.round(F.sum("sum_lr").cast("double") / F.count("*"), 6)
        .alias("mean_log_weight"),
    )
    q = F.floor(F.sqrt(F.col("n_tokens_kept").cast("double")) * F.lit(1e9)).cast("bigint")
    srcs = per_src.select("*", q.alias("q_sqrt"))
    tot = srcs.agg(F.sum("q_sqrt").alias("tot_sqrt"))
    p_temp = F.col("q_sqrt") / F.col("tot_sqrt")
    summary = (
        srcs.crossJoin(F.broadcast(tot))
        .select(
            "source", "n_docs_kept", "n_tokens_kept", "mean_log_weight",
            F.round(p_temp, 6).alias("p_temp"),
            F.floor(p_temp * F.lit(float(MIX_TOKEN_BUDGET))).cast("bigint")
            .alias("budget_tokens"),
        )
    )
    return kept, summary


def mixture_plan_summary(spark, sf_dir):
    """The mixture family composed as ONE dataflow — the query a data
    lead actually runs before launching a training job: classifier-gate
    the corpus (label_hq), aggregate the DSIR signal per surviving
    domain, temper the surviving token mass (alpha=0.5), and allocate a
    token budget per domain. Proves gate + weight + mix compose in a
    single DAG: the corpus token stream is exploded ONCE and scored
    against BOTH broadcast bucket models (weights + log-ratios) in the
    same pass; only model-sized and domain-sized frames exist
    downstream (shared builder: _mixture_frames — the shard selector
    reuses the same single-explode kept frame).

    Output per source: kept docs/tokens, mean DSIR log-weight of kept
    docs, tempered sampling share, and floor(share * 1e6) budgeted
    tokens."""
    return _mixture_frames(spark, sf_dir)[1]


def _doc_buckets_src(d):
    """(doc_id, lang, source, bucket) token stream (the composed plan
    needs the domain column carried through)."""
    w = _WORDS(F.col("text"))
    return d.where(F.size(w) > 0).select(
        "doc_id", "lang", "source",
        F.explode(F.transform(w, lambda x: char_fold_hash(x) % N_BUCKETS))
        .alias("bucket"),
    )


_DUCK_BUCKETS_SRC = f"""
        SELECT doc_id, lang, source,
               unnest(list_transform({_DUCK_WORDS},
                      w -> {duck_char_fold_hash('w')} % {N_BUCKETS})) AS bucket
        FROM documents
        WHERE len({_DUCK_WORDS}) > 0
"""


N_MIX_SHARDS = 16


def _mixture_selected(spark, sf_dir):
    """Per-document training-mix selection (doc_id, source, n_tokens):
    classifier-kept docs, greedily admitted per source in scrambled-key
    order until the domain's tempered token budget is exhausted — the
    deterministic quota sampler the manifest and the shard writer both
    derive from. Greedy-prefix semantics: a doc whose tokens would
    cross the budget is dropped (cumulative sum <= budget).

    ONE corpus explode total: the kept frame and the budgets both come
    from _mixture_frames' shared single-pass pipeline (an earlier
    version called mixture_plan_summary AND text_classifier_score,
    paying three corpus explodes for one selection)."""
    from pyspark.sql.window import Window

    from ..functions.sampling import scrambled_key

    kept, summary = _mixture_frames(spark, sf_dir, shared=True)
    budgets = summary.select("source", "budget_tokens")
    w = (
        Window.partitionBy("source")
        .orderBy(scrambled_key(F.col("doc_id")), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        kept.select("doc_id", "source", "n_tokens")
        .withColumn("cum", F.sum("n_tokens").over(w))
        .join(F.broadcast(budgets), "source")
        .where(F.col("cum") <= F.col("budget_tokens"))
        .select("doc_id", "source", "n_tokens")
    )


def mixture_shard_manifest(spark, sf_dir):
    """The last mile of the training-data pipeline (VERDICT r6 task 5):
    the budget-respecting mix MANIFEST — per (source, shard): how many
    docs and tokens the quota sampler admitted, with shard membership
    the SAME pure function storage.write_training_shards uses
    (scrambled doc_id mod N_MIX_SHARDS), so the manifest IS the
    contract for the files write_mixture_shards lays down (pinned in
    tests/test_mixing.py: written shard directories reproduce these
    counts exactly).

    Scale shape: selection is one window cumsum per domain over the
    kept-doc frame (doc-sized, text never enters), budgets ride a
    broadcast; the manifest is |sources x shards| rows."""
    from ..functions.sampling import scrambled_key

    sel = _mixture_selected(spark, sf_dir)
    return (
        sel.groupBy(
            "source",
            scrambled_key(F.col("doc_id"), N_MIX_SHARDS).alias("shard"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


def write_mixture_shards(spark, sf_dir, path: str) -> None:
    """Materialize the selected mixture as deterministic training
    shards (path/shard=K/*.parquet) via storage.write_training_shards —
    same scrambled-key shard function as the manifest, text re-attached
    by a doc_id join only at write time."""
    from ..storage import write_training_shards

    sel = _mixture_selected(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    out = sel.join(docs, "doc_id").select(
        "doc_id", "source", "lang", "n_tokens", "text")
    write_training_shards(out, path, key="doc_id", n_shards=N_MIX_SHARDS)


ORACLE_SQL = {
    "sample_importance_weights": f"""
        WITH toks AS ({_DUCK_BUCKETS}
        ), counts AS (
            SELECT bucket,
                   count(*) AS c_raw,
                   count(*) FILTER (lang = '{TARGET_LANG}') AS c_tgt
            FROM toks GROUP BY bucket
        ), model AS (
            SELECT r.range AS bucket,
                   COALESCE(c_raw, 0) AS c_raw,
                   COALESCE(c_tgt, 0) AS c_tgt
            FROM range({N_BUCKETS}) r
            LEFT JOIN counts ON counts.bucket = r.range
        ), totals AS (
            SELECT sum(c_raw) AS n_raw, sum(c_tgt) AS n_tgt FROM model
        ), logratio AS (
            SELECT bucket,
                   CAST(round(
                       ln({1 - SMOOTH_LAMBDA!r} * c_tgt
                              / greatest(n_tgt, 1)
                          + {SMOOTH_LAMBDA / N_BUCKETS!r})
                       - ln({1 - SMOOTH_LAMBDA!r} * c_raw
                                / greatest(n_raw, 1)
                            + {SMOOTH_LAMBDA / N_BUCKETS!r}), 9)
                       AS DECIMAL(18,9)) AS lr
            FROM model, totals
        )
        SELECT doc_id, lang,
               count(*) AS n_tokens,
               round(CAST(sum(lr) AS DOUBLE), 6) AS log_weight
        FROM toks JOIN logratio USING (bucket)
        GROUP BY doc_id, lang
    """,
    "text_classifier_score": f"""
        WITH toks AS ({_DUCK_BUCKETS}
        ), weights AS (
            SELECT r.range AS bucket,
                   CAST((r.range + 1) * {_W_MULT} % {_W_RANGE}
                        - {(_W_RANGE - 1) // 2} AS BIGINT) AS w
            FROM range({N_BUCKETS}) r
        )
        SELECT doc_id, count(*) AS n_tokens,
               CAST(sum(w) AS BIGINT) AS sum_w,
               sum(w) * 1000 > {_HQ_MEAN_MILLI} * count(*) AS label_hq
        FROM toks JOIN weights USING (bucket)
        GROUP BY doc_id
    """,
    "sample_temperature_mix": f"""
        WITH per_src AS (
            SELECT source, count(*) AS n_docs,
                   CAST(sum(len({_DUCK_WORDS})) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        ), srcs AS (
            SELECT source, n_docs, n_tokens,
                   CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e9)
                        AS BIGINT) AS q_sqrt
            FROM per_src
        ), totals AS (
            SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
                   CAST(sum(q_sqrt) AS BIGINT) AS tot_sqrt
            FROM srcs
        )
        SELECT source, n_docs, n_tokens,
               round(CAST(n_tokens AS DOUBLE) / tot_tokens, 6) AS p_raw,
               round(CAST(q_sqrt AS DOUBLE) / tot_sqrt, 6) AS p_temp,
               round((CAST(q_sqrt AS DOUBLE) / tot_sqrt)
                     / (CAST(n_tokens AS DOUBLE) / tot_tokens), 4) AS boost
        FROM srcs, totals
    """,
}

ORACLE_SQL["mixture_plan_summary"] = f"""
    WITH toks AS ({_DUCK_BUCKETS_SRC}
    ), counts AS (
        SELECT bucket,
               count(*) AS c_raw,
               count(*) FILTER (lang = '{TARGET_LANG}') AS c_tgt
        FROM toks GROUP BY bucket
    ), model AS (
        SELECT r.range AS bucket,
               COALESCE(c_raw, 0) AS c_raw,
               COALESCE(c_tgt, 0) AS c_tgt
        FROM range({N_BUCKETS}) r
        LEFT JOIN counts ON counts.bucket = r.range
    ), totals AS (
        SELECT sum(c_raw) AS n_raw, sum(c_tgt) AS n_tgt FROM model
    ), scores AS (
        SELECT bucket,
               CAST(round(
                   ln({1 - SMOOTH_LAMBDA!r} * c_tgt / greatest(n_tgt, 1)
                      + {SMOOTH_LAMBDA / N_BUCKETS!r})
                   - ln({1 - SMOOTH_LAMBDA!r} * c_raw / greatest(n_raw, 1)
                        + {SMOOTH_LAMBDA / N_BUCKETS!r}), 9)
                   AS DECIMAL(18,9)) AS lr,
               CAST((bucket + 1) * {_W_MULT} % {_W_RANGE}
                    - {(_W_RANGE - 1) // 2} AS BIGINT) AS w
        FROM model, totals
    ), per_doc AS (
        SELECT doc_id, source, count(*) AS n_tokens,
               sum(w) AS sum_w, sum(lr) AS sum_lr
        FROM toks JOIN scores USING (bucket)
        GROUP BY doc_id, source
    ), kept AS (
        SELECT * FROM per_doc
        WHERE sum_w * 1000 > {_HQ_MEAN_MILLI} * n_tokens
    ), per_src AS (
        SELECT source,
               count(*) AS n_docs_kept,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens_kept,
               round(CAST(sum(sum_lr) AS DOUBLE) / count(*), 6)
                   AS mean_log_weight
        FROM kept GROUP BY source
    ), srcs AS (
        SELECT *,
               CAST(floor(sqrt(CAST(n_tokens_kept AS DOUBLE)) * 1e9)
                    AS BIGINT) AS q_sqrt
        FROM per_src
    ), tot AS (
        SELECT CAST(sum(q_sqrt) AS BIGINT) AS tot_sqrt FROM srcs
    )
    SELECT source, n_docs_kept, n_tokens_kept, mean_log_weight,
           round(CAST(q_sqrt AS DOUBLE) / tot_sqrt, 6) AS p_temp,
           CAST(floor(CAST(q_sqrt AS DOUBLE) / tot_sqrt
                      * {float(MIX_TOKEN_BUDGET)!r}) AS BIGINT)
               AS budget_tokens
    FROM srcs, tot
"""

from ..functions.sampling import scrambled_key_sql  # noqa: E402

ORACLE_SQL["mixture_shard_manifest"] = f"""
    WITH scored AS ({ORACLE_SQL["text_classifier_score"]}),
    budgets AS (
        SELECT source, budget_tokens
        FROM ({ORACLE_SQL["mixture_plan_summary"]})
    ), kept AS (
        SELECT s.doc_id, d.source, s.n_tokens
        FROM scored s JOIN documents d USING (doc_id)
        WHERE s.label_hq
    ), cum AS (
        SELECT doc_id, source, n_tokens,
               CAST(sum(n_tokens) OVER (
                   PARTITION BY source
                   ORDER BY {scrambled_key_sql('doc_id')}, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum
        FROM kept
    ), sel AS (
        SELECT c.doc_id, c.source, c.n_tokens
        FROM cum c JOIN budgets b USING (source)
        WHERE c.cum <= b.budget_tokens
    )
    SELECT source,
           {scrambled_key_sql('doc_id', N_MIX_SHARDS)} AS shard,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
    FROM sel GROUP BY 1, 2
"""

QUERIES = {
    "sample_importance_weights": sample_importance_weights,
    "text_classifier_score": text_classifier_score,
    "sample_temperature_mix": sample_temperature_mix,
    "mixture_plan_summary": mixture_plan_summary,
    "mixture_shard_manifest": mixture_shard_manifest,
}
