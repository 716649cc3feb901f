"""Gopher-style repetition filtering (LLM-data curation family).

Rae et al. 2021 (Gopher, arXiv:2112.11446 Appendix A) filter documents
whose content is dominated by repeated n-grams — boilerplate, keyword
stuffing, templated spam. The word-level variant over this engine's
portable token hashes:

- top2_share / top3_share: share of 2-/3-gram occurrences taken by the
  single most frequent gram, counted only when that gram actually
  REPEATS (a tiny doc's sole 2-gram is 100% of its grams but repeats
  nothing — share 0; Gopher's "fraction in most common n-gram" applies
  after its length gates, this formulation needs no side condition),
- dup5_frac: share of 5-gram occurrences whose gram occurs more than
  once in the document (Gopher's "fraction in duplicate n-grams"),
- keep_repetition: all three under their thresholds (0.20/0.18/0.15).

Scale shape: ONE explode produces a tagged (doc_id, n, gram) stream for
all three gram sizes, ONE hash-keyed aggregate counts multiplicities
(map-side combined; the shuffle carries 8-byte gram hashes), and the
per-(doc, n) reduction + 3-way pivot are doc-sized. No per-doc
quadratic in-array counting — at 100 TB long documents make the
explode+aggregate the right plan.

Determinism: gram hashes are the portable polynomial shingles
(functions/text.py), shares are exact integer ratios rounded to 6 dp —
DuckDB reproduces every bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import (
    DUCK_WS_TOKENS,
    duck_shingle_hashes,
    duck_word_hashes,
    shingle_hashes,
    word_hashes,
    ws_tokens,
)
from ..sources.parquet import fan_out, load_table

TOP2_MAX = 0.20
TOP3_MAX = 0.18
DUP5_MAX = 0.15
_NS = (2, 3, 5)

_WORDS = ws_tokens          # canonical curation tokenizer (functions/text.py)
_DUCK_WORDS = DUCK_WS_TOKENS


def text_gopher_repetition(spark, sf_dir):
    """(doc_id, top2_share, top3_share, dup5_frac, keep_repetition) —
    the Gopher repetition gate per document. Documents too short for a
    gram size contribute zero occurrences there (share 0: nothing
    repeats)."""
    d = fan_out(spark, load_table(spark, sf_dir, "documents"))
    w = _WORDS(F.col("text"))
    staged = d.where(F.size(w) > 0).select(
        "doc_id", word_hashes(w).alias("wh"))

    # closure factory, NOT a default-arg lambda: pyspark treats default
    # args as extra HOF parameters, turning the lambda into the
    # (element, index) form and binding n to the INDEX (see
    # dedup._perm_fn for the same trap)
    def _tag_fn(n):
        def f(g):
            return F.struct(F.lit(n).alias("n"), g.alias("g"))
        return f

    tagged = F.concat(*[
        F.transform(shingle_hashes(F.col("wh"), k=n), _tag_fn(n))
        for n in _NS
    ])
    counts = (
        staged.select("doc_id", F.explode(tagged).alias("t"))
        .groupBy("doc_id", F.col("t.n").alias("n"), F.col("t.g").alias("g"))
        .agg(F.count("*").alias("cnt"))
    )
    per_n = counts.groupBy("doc_id", "n").agg(
        # a top gram counts only if it repeats (mx == 1 -> nothing does)
        F.when(F.max("cnt") > 1, F.max("cnt")).otherwise(0).alias("mx"),
        F.sum("cnt").alias("tot"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias("dup"),
    )
    wide = (
        staged.select("doc_id")
        .join(per_n.where(F.col("n") == 2)
              .select("doc_id", (F.col("mx") / F.col("tot")).alias("s2")),
              "doc_id", "left")
        .join(per_n.where(F.col("n") == 3)
              .select("doc_id", (F.col("mx") / F.col("tot")).alias("s3")),
              "doc_id", "left")
        .join(per_n.where(F.col("n") == 5)
              .select("doc_id", (F.col("dup") / F.col("tot")).alias("d5")),
              "doc_id", "left")
    )
    s2 = F.coalesce("s2", F.lit(0.0))
    s3 = F.coalesce("s3", F.lit(0.0))
    d5 = F.coalesce("d5", F.lit(0.0))
    return wide.select(
        "doc_id",
        F.round(s2, 6).alias("top2_share"),
        F.round(s3, 6).alias("top3_share"),
        F.round(d5, 6).alias("dup5_frac"),
        ((s2 <= TOP2_MAX) & (s3 <= TOP3_MAX) & (d5 <= DUP5_MAX))
        .alias("keep_repetition"),
    )


def _duck_gram_counts(n: int) -> str:
    return f"""
        SELECT doc_id, g, count(*) AS cnt FROM (
            SELECT doc_id, unnest({duck_shingle_hashes(n)}) AS g
            FROM hashes
        ) GROUP BY doc_id, g
    """


ORACLE_SQL = {
    "text_gopher_repetition": f"""
        WITH hashes AS (
            SELECT doc_id, {duck_word_hashes(_DUCK_WORDS)} AS wh
            FROM documents WHERE len({_DUCK_WORDS}) > 0
        ),
        {", ".join(
            f'''pn{n} AS (
                SELECT doc_id,
                       CASE WHEN max(cnt) > 1 THEN max(cnt) ELSE 0 END AS mx,
                       sum(cnt) AS tot,
                       sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup
                FROM ({_duck_gram_counts(n)}) GROUP BY doc_id
            )''' for n in _NS
        )}
        SELECT h.doc_id,
               round(COALESCE(CAST(pn2.mx AS DOUBLE) / pn2.tot, 0.0), 6)
                   AS top2_share,
               round(COALESCE(CAST(pn3.mx AS DOUBLE) / pn3.tot, 0.0), 6)
                   AS top3_share,
               round(COALESCE(CAST(pn5.dup AS DOUBLE) / pn5.tot, 0.0), 6)
                   AS dup5_frac,
               COALESCE(CAST(pn2.mx AS DOUBLE) / pn2.tot, 0.0) <= {TOP2_MAX}
               AND COALESCE(CAST(pn3.mx AS DOUBLE) / pn3.tot, 0.0) <= {TOP3_MAX}
               AND COALESCE(CAST(pn5.dup AS DOUBLE) / pn5.tot, 0.0) <= {DUP5_MAX}
                   AS keep_repetition
        FROM hashes h
        LEFT JOIN pn2 ON pn2.doc_id = h.doc_id
        LEFT JOIN pn3 ON pn3.doc_id = h.doc_id
        LEFT JOIN pn5 ON pn5.doc_id = h.doc_id
    """,
}

QUERIES = {
    "text_gopher_repetition": text_gopher_repetition,
}
