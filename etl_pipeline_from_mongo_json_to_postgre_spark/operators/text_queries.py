"""Text-analysis operators over the documents table (training-data
pipeline extensions: token counting, quality scoring, language ID,
document fingerprinting). All pure Column expressions; every query has
a DuckDB oracle twin built from the same hash fragments
(functions/text.py) so results are bit-identical.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.sampling import scrambled_key, scrambled_key_sql
from ..functions.text import MOD, char_fold_hash, duck_char_fold_hash
from ..sources.parquet import fan_out, load_table

STOPWORDS = ("the", "a")


def _docs(spark, sf_dir):
    # fan_out: single-row-group scans single-thread the shingle/minhash
    # (and regex) pipelines otherwise; no-op on pre-split input
    return fan_out(spark, load_table(spark, sf_dir, "documents"))


def _words(col):
    return F.filter(F.split(col, " "), lambda x: x != "")


_DUCK_WORDS = "list_filter(string_split(text, ' '), x -> x <> '')"


def text_token_count(spark, sf_dir):
    """Token + distinct-token counts per document."""
    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    return d.select(
        "doc_id",
        F.size(w).cast("bigint").alias("token_count"),
        F.size(F.array_distinct(w)).cast("bigint").alias("distinct_tokens"),
    )


def text_quality_score(spark, sf_dir):
    """Length/stopword-ratio quality signals (the classic pre-training
    quality filter shape). One FP division per ratio — deterministic."""
    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    n = F.size(w).cast("double")
    stop = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS))).cast("double")
    avg_len = (F.length(F.translate("text", " ", "")).cast("double") / F.size(w))
    return d.select(
        "doc_id",
        F.size(w).cast("bigint").alias("token_count"),
        F.round(avg_len, 4).alias("avg_token_len"),
        F.round(stop / n, 4).alias("stopword_ratio"),
    ).where(F.col("token_count") > 0)


def text_langid(spark, sf_dir):
    """Stopword-density language heuristic. The synthetic corpus shares
    one vocabulary across langs, so this demonstrates the operator shape
    (deterministic scoring -> thresholded label), not model quality."""
    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    ratio = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS))).cast("double") / F.size(w)
    return d.select(
        "doc_id",
        "lang",
        F.round(ratio, 4).alias("en_score"),
        F.when(ratio >= 0.08, "en")
        .when(ratio >= 0.03, "en_maybe")
        .otherwise("unknown")
        .alias("predicted_lang"),
    ).where(F.size(w) > 0)


def text_langid_confusion(spark, sf_dir):
    """Label-vs-prediction confusion matrix for the langid heuristic —
    the evaluation census any classifier-over-corpus step needs
    (per (labeled, predicted) cell counts + cell share of the label's
    row). Two map-side-combined aggregates over the same scan; the
    row-total frame is label-cardinality and broadcast back."""
    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    ratio = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS))).cast("double") / F.size(w)
    pred = (
        F.when(ratio >= 0.08, "en")
        .when(ratio >= 0.03, "en_maybe")
        .otherwise("unknown")
    )
    cells = (
        d.where(F.size(w) > 0)
        .select(F.col("lang").alias("labeled"), pred.alias("predicted"))
        .groupBy("labeled", "predicted")
        .agg(F.count("*").alias("n_docs"))
    )
    totals = cells.groupBy("labeled").agg(F.sum("n_docs").alias("row_total"))
    return (
        cells.join(F.broadcast(totals), "labeled")
        .select(
            "labeled", "predicted", "n_docs",
            F.round(F.col("n_docs") / F.col("row_total"), 4).alias("row_share"),
        )
    )


BPE_PAT = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def text_bpe_token_count(spark, sf_dir):
    """BPE-ish pre-tokenization count (GPT-2-style pretokenizer shape:
    letter runs, single digits, punctuation marks) next to the
    whitespace count — the standard pair of cheap token estimators for
    corpus sizing. Pattern kept in the regex subset with identical
    semantics in Java regex (Spark) and RE2 (DuckDB)."""
    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    bpe = F.regexp_extract_all(F.col("text"), F.lit(BPE_PAT), F.lit(0))
    return d.select(
        "doc_id",
        F.size(w).cast("bigint").alias("ws_tokens"),
        F.size(bpe).cast("bigint").alias("bpe_tokens"),
    )


def text_normalize(spark, sf_dir):
    """Canonical text normalization (the pre-dedup cleanup pass):
    lowercase, strip punctuation to spaces, collapse runs of
    whitespace, trim. Pure per-row projection — at 100 TB this runs
    inside the scan stage with zero shuffle."""
    d = _docs(spark, sf_dir)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", " "),
            r"\s+",
            " ",
        )
    )
    return d.select("doc_id", norm.alias("norm_text"))


SAMPLE_MOD = 100
SAMPLE_KEEP = 10


def sample_hash_mod(spark, sf_dir):
    """Deterministic 10%% corpus sample via modular arithmetic on the
    key — the reproducible alternative to seeded random sampling:
    membership is a pure function of doc_id, so reruns, retried tasks,
    and other engines (the oracle) select the identical subset. The
    multiplier spreads adjacent ids across residues (cheap Knuth-style
    hash) without leaving BIGINT range."""
    d = _docs(spark, sf_dir)
    residue = scrambled_key(F.col("doc_id"), SAMPLE_MOD)
    return d.where(residue < SAMPLE_KEEP).select("doc_id", "lang")


def text_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprint over the first 64 chars
    (cheap near-exact dedup key; full-text hash would shuffle the same
    way, the prefix keeps the oracle fast)."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        char_fold_hash(F.substring("text", 1, 64)).alias("fingerprint"),
    )


STRATUM_K = 20


def sample_stratified(spark, sf_dir):
    """Deterministic stratified sample: exactly K docs per language,
    ranked by a scrambled key — the reproducible equivalent of
    sampleBy() (whose Bernoulli draws give only EXPECTED strata sizes
    and change across retries/reruns). Window rank per stratum is one
    shuffle on lang; a hot stratum stays bounded because only
    rank <= K rows survive each partition's local sort.

    The ordering key is the Knuth-multiplied doc_id (same family as
    sample_hash_mod) rather than ingestion order, so the sample is
    decorrelated from id assignment while staying pure integer
    arithmetic both engines reproduce exactly."""
    from pyspark.sql.window import Window

    d = _docs(spark, sf_dir)
    order_key = scrambled_key(F.col("doc_id"))
    w = Window.partitionBy("lang").orderBy(order_key.asc(), F.col("doc_id").asc())
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= STRATUM_K)
        .select("doc_id", "lang", "rk")
    )


TOP_NGRAMS = 50


def text_ngram_counts(spark, sf_dir):
    """Corpus-wide top-50 bigram counts — the vocabulary/collocation
    census every corpus audit runs. Scale shape: bigram generation is a
    per-row projection inside the scan stage; the only shuffle carries
    (bigram, partial_count) pairs with map-side combine, so shuffle
    volume is |distinct bigrams|, not |tokens|. Deterministic order:
    count desc, bigram asc, LIMIT 50."""
    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    wcol = F.col("w")
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size(wcol) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(wcol, i + 1), F.element_at(wcol, i + 2)
        ),
    )
    # stage words as a real column first: inlining the split inside the
    # per-element lambda re-evaluates it per element_at (O(words^2))
    staged = d.where(F.size(w) >= 2).select(w.alias("w"))
    return (
        staged.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(TOP_NGRAMS)
    )


# Shared regex subset (Java regex + RE2): no lookaround, no backrefs.
EMAIL_PAT = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
NUM_PAT = "[0-9]{3,}"


def pii_mask_cols(text_col):
    """The masking expressions as reusable columns (emails first, then
    digit runs over the already-email-masked text, so an address's
    digits aren't double-counted). Unit-tested on crafted strings in
    tests/test_text_ops.py — the synthetic corpus exercises only the
    digit-run branch."""
    n_emails = F.size(F.regexp_extract_all(text_col, F.lit(EMAIL_PAT), F.lit(0)))
    masked1 = F.regexp_replace(text_col, EMAIL_PAT, "<EMAIL>")
    n_nums = F.size(F.regexp_extract_all(masked1, F.lit(NUM_PAT), F.lit(0)))
    masked = F.regexp_replace(masked1, NUM_PAT, "<NUM>")
    return (
        masked.alias("masked_text"),
        n_emails.cast("bigint").alias("n_emails"),
        n_nums.cast("bigint").alias("n_numbers"),
    )


def text_pii_mask(spark, sf_dir):
    """PII scrubbing pass (training-data hygiene): emails -> <EMAIL>,
    long digit runs (ids/phones/accounts) -> <NUM>, with per-doc match
    counts for the redaction audit. Pure per-row projection — runs in
    the scan stage, zero shuffle, trivially parallel at 100 TB."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", *pii_mask_cols(F.col("text")))


def doc_stats_by_lang(spark, sf_dir):
    """Per-language corpus census (docs, exact char volume, token
    volume, mean doc length). Integer sums through the shuffle (exact,
    order-independent); the one division happens after aggregation on
    exact BIGINTs, so the double result is deterministic."""
    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    return (
        d.select("lang", F.length("text").alias("n_chars"), F.size(w).alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "total_chars",
            "total_tokens",
            F.round(
                F.col("total_chars").cast("double") / F.col("n_docs"), 4
            ).alias("avg_chars"),
        )
    )


def text_unigram_logprob(spark, sf_dir):
    """Corpus-LM quality scoring: each document's total and per-token
    unigram log-probability under the corpus's own unigram model — the
    classic cheap perplexity proxy for filtering degenerate text
    (rare-token soup scores low, natural text scores near the corpus
    average).

    Scale shape: the unigram model is |vocab|-sized (one map-side-
    combined count agg + a 1-row total) and joins back against the
    exploded token stream on the word key; the per-doc reduction is a
    second map-side-combined agg on doc_id. Shuffles carry (word,
    count) and (doc_id, partial-sum) — never document text.

    Determinism: per-word ln() is rounded to 9 dp BEFORE the decimal
    per-doc sum, so engine-library ulp differences in ln cannot
    accumulate; the final score rounds to 6 dp.
    """
    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    toks = d.where(F.size(w) > 0).select("doc_id", F.explode(w).alias("word"))
    vocab = toks.groupBy("word").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    logp = vocab.crossJoin(F.broadcast(total)).select(
        "word",
        F.round(F.log(F.col("cnt") / F.col("total")), 9)
        .cast("decimal(18,9)")
        .alias("logp"),
    )
    return (
        toks.join(logp, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.sum("logp").cast("double"), 6).alias("sum_logp"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "sum_logp",
            F.round(F.col("sum_logp") / F.col("n_tokens"), 6).alias("avg_logp"),
        )
    )


ORACLE_SQL = {
    "text_unigram_logprob": f"""
        WITH toks AS (
            SELECT doc_id, unnest({_DUCK_WORDS}) AS word
            FROM documents WHERE len({_DUCK_WORDS}) > 0
        ), vocab AS (
            SELECT word, count(*) AS cnt FROM toks GROUP BY word
        ), total AS (
            SELECT sum(cnt) AS total FROM vocab
        ), logp AS (
            SELECT word,
                   CAST(round(ln(CAST(cnt AS DOUBLE) / total), 9)
                        AS DECIMAL(18,9)) AS logp
            FROM vocab, total
        ), per_doc AS (
            SELECT doc_id, count(*) AS n_tokens,
                   round(CAST(sum(logp) AS DOUBLE), 6) AS sum_logp
            FROM toks JOIN logp USING (word)
            GROUP BY doc_id
        )
        SELECT doc_id, n_tokens, sum_logp,
               round(sum_logp / n_tokens, 6) AS avg_logp
        FROM per_doc
    """,
    "text_token_count": f"""
        SELECT doc_id,
               len({_DUCK_WORDS}) AS token_count,
               len(list_distinct({_DUCK_WORDS})) AS distinct_tokens
        FROM documents
    """,
    "text_quality_score": f"""
        SELECT doc_id,
               len({_DUCK_WORDS}) AS token_count,
               round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                     / len({_DUCK_WORDS}), 4) AS avg_token_len,
               round(CAST(len(list_filter({_DUCK_WORDS},
                     x -> x IN ('the', 'a'))) AS DOUBLE)
                     / len({_DUCK_WORDS}), 4) AS stopword_ratio
        FROM documents WHERE len({_DUCK_WORDS}) > 0
    """,
    "text_langid": f"""
        WITH s AS (
            SELECT doc_id, lang,
                   CAST(len(list_filter({_DUCK_WORDS}, x -> x IN ('the', 'a')))
                        AS DOUBLE) / len({_DUCK_WORDS}) AS ratio
            FROM documents WHERE len({_DUCK_WORDS}) > 0
        )
        SELECT doc_id, lang, round(ratio, 4) AS en_score,
               CASE WHEN ratio >= 0.08 THEN 'en'
                    WHEN ratio >= 0.03 THEN 'en_maybe'
                    ELSE 'unknown' END AS predicted_lang
        FROM s
    """,
    "text_langid_confusion": f"""
        WITH s AS (
            SELECT lang AS labeled,
                   CASE WHEN CAST(len(list_filter({_DUCK_WORDS},
                                  x -> x IN ('the', 'a'))) AS DOUBLE)
                             / len({_DUCK_WORDS}) >= 0.08 THEN 'en'
                        WHEN CAST(len(list_filter({_DUCK_WORDS},
                                  x -> x IN ('the', 'a'))) AS DOUBLE)
                             / len({_DUCK_WORDS}) >= 0.03 THEN 'en_maybe'
                        ELSE 'unknown' END AS predicted
            FROM documents WHERE len({_DUCK_WORDS}) > 0
        ), cells AS (
            SELECT labeled, predicted, count(*) AS n_docs
            FROM s GROUP BY 1, 2
        ), totals AS (
            SELECT labeled, sum(n_docs) AS row_total FROM cells GROUP BY 1
        )
        SELECT labeled, predicted, n_docs,
               round(n_docs / row_total, 4) AS row_share
        FROM cells JOIN totals USING (labeled)
    """,
    "text_normalize": r"""
        SELECT doc_id,
               trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                   '\s+', ' ', 'g')) AS norm_text
        FROM documents
    """,
    "sample_hash_mod": f"""
        SELECT doc_id, lang FROM documents
        WHERE {scrambled_key_sql('doc_id', SAMPLE_MOD)} < {SAMPLE_KEEP}
    """,
    "text_bpe_token_count": f"""
        SELECT doc_id,
               len({_DUCK_WORDS}) AS ws_tokens,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))
                   AS bpe_tokens
        FROM documents
    """,
    "text_fingerprint": f"""
        SELECT doc_id,
               {duck_char_fold_hash("substring(text, 1, 64)")} AS fingerprint
        FROM documents
    """,
    "text_ngram_counts": f"""
        WITH words AS (
            SELECT {_DUCK_WORDS} AS w FROM documents
            WHERE len({_DUCK_WORDS}) >= 2
        ), bigrams AS (
            SELECT unnest(list_transform(range(1, len(w)),
                          i -> w[i] || ' ' || w[i+1])) AS bigram
            FROM words
        )
        SELECT bigram, count(*) AS cnt FROM bigrams
        GROUP BY bigram ORDER BY cnt DESC, bigram ASC LIMIT {TOP_NGRAMS}
    """,
    "text_pii_mask": f"""
        WITH m1 AS (
            SELECT doc_id,
                   len(regexp_extract_all(text, '{EMAIL_PAT}')) AS n_emails,
                   regexp_replace(text, '{EMAIL_PAT}', '<EMAIL>', 'g') AS t1
            FROM documents
        )
        SELECT doc_id,
               regexp_replace(t1, '{NUM_PAT}', '<NUM>', 'g') AS masked_text,
               n_emails,
               len(regexp_extract_all(t1, '{NUM_PAT}')) AS n_numbers
        FROM m1
    """,
    "sample_stratified": f"""
        SELECT doc_id, lang, rk FROM (
            SELECT doc_id, lang,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY {scrambled_key_sql('doc_id')}, doc_id
                   ) AS rk
            FROM documents
        ) WHERE rk <= {STRATUM_K}
    """,
    "doc_stats_by_lang": """
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(length(text)) AS BIGINT) AS total_chars,
               CAST(sum(len(list_filter(string_split(text, ' '),
                    x -> x <> ''))) AS BIGINT) AS total_tokens,
               round(CAST(sum(length(text)) AS DOUBLE) / count(*), 4)
                   AS avg_chars
        FROM documents GROUP BY lang
    """,
}

QUERIES = {
    "text_token_count": text_token_count,
    "text_bpe_token_count": text_bpe_token_count,
    "text_normalize": text_normalize,
    "sample_hash_mod": sample_hash_mod,
    "text_quality_score": text_quality_score,
    "text_langid": text_langid,
    "text_langid_confusion": text_langid_confusion,
    "text_fingerprint": text_fingerprint,
    "text_ngram_counts": text_ngram_counts,
    "text_pii_mask": text_pii_mask,
    "text_unigram_logprob": text_unigram_logprob,
    "doc_stats_by_lang": doc_stats_by_lang,
    "sample_stratified": sample_stratified,
}
