"""Document chunking for RAG / embedding pipelines (LLM-data family).

Every retrieval or embedding pipeline first splits documents into
fixed-size overlapping token windows (chunks); chunk identity hashes
then drive chunk-level dedup (a repeated boilerplate paragraph should
be embedded once, not once per page it appears on). Two operators:

- text_chunk_windows: per document, CHUNK_TOKENS-sized windows every
  CHUNK_STRIDE tokens (overlap = CHUNK_TOKENS - CHUNK_STRIDE), each
  with a portable polynomial content hash. Pure map-side: the window
  hashes are computed INSIDE one transform over the start offsets, so
  the word-hash array never fans out through the explode — per chunk
  row only (start, n_tokens, hash) leaves the document row. Zero
  shuffle; at 100 TB this is a streaming pass.
- chunk_dup_census: the chunk-level dedup signal — how many FULL
  chunks appear in 1, 2, 3... places across the corpus (hash-keyed
  aggregate with map-side combine, then a histogram over at most
  |distinct occurrence counts| rows).

Determinism: chunk hashes fold the portable per-word hashes
(functions/text.py) with the same seed/combine constants the shingle
family uses, so DuckDB reproduces every bit. chunk_id = start_tok /
CHUNK_STRIDE on both engines (starts are stride multiples, so the
division is exact).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import (
    CHAR_SEED,
    DUCK_WS_TOKENS,
    MOD,
    WORD_COMBINE,
    duck_word_hashes,
    word_hashes,
    ws_tokens,
)
from ..sources.parquet import fan_out, load_table

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48

_WORDS = ws_tokens          # canonical curation tokenizer (functions/text.py)
_DUCK_WORDS = DUCK_WS_TOKENS


def _docs(spark, sf_dir):
    return fan_out(spark, load_table(spark, sf_dir, "documents"))


def _fold_chunk(arr):
    """h = fold(7, tok -> (h*131 + tok) % MOD) — the shingle fold over
    an arbitrary-length token-hash slice."""
    return F.aggregate(
        arr,
        F.lit(CHAR_SEED).cast("bigint"),
        lambda acc, x: (acc * WORD_COMBINE + x) % F.lit(MOD),
    )


def text_chunk_windows(spark, sf_dir):
    """(doc_id, chunk_id, start_tok, n_tokens, chunk_hash) — the RAG
    chunk table. Window starts at 0, STRIDE, 2*STRIDE, ... while < doc
    length; the final window may be shorter than CHUNK_TOKENS (kept:
    its text still needs embedding)."""
    d = _docs(spark, sf_dir)
    w = _WORDS(F.col("text"))
    staged = d.where(F.size(w) > 0).select(
        "doc_id", word_hashes(w).alias("wh")
    )
    wh = F.col("wh")
    n = F.size(wh)
    chunk_structs = F.transform(
        F.sequence(F.lit(0), n - 1, F.lit(CHUNK_STRIDE)),
        lambda s: F.struct(
            s.cast("bigint").alias("start_tok"),
            F.least(n - s, F.lit(CHUNK_TOKENS)).cast("bigint").alias("n_tokens"),
            _fold_chunk(F.slice(wh, s + 1, CHUNK_TOKENS)).alias("chunk_hash"),
        ),
    )
    return (
        staged.select("doc_id", F.explode(chunk_structs).alias("c"))
        .select(
            "doc_id",
            (F.col("c.start_tok") / CHUNK_STRIDE).cast("bigint").alias("chunk_id"),
            "c.start_tok",
            "c.n_tokens",
            "c.chunk_hash",
        )
    )


def chunk_dup_census(spark, sf_dir):
    """Chunk-level dedup signal: occurrence histogram of FULL chunks
    (n_tokens == CHUNK_TOKENS) by content hash — (occurrences,
    n_chunks, n_docs_max). occurrences == 1 is the unique mass; the
    tail is boilerplate to embed once. Shuffle carries only 8-byte
    hashes; both aggregates combine map-side."""
    chunks = text_chunk_windows(spark, sf_dir).where(
        F.col("n_tokens") == CHUNK_TOKENS)
    per_hash = chunks.groupBy("chunk_hash").agg(
        F.count("*").alias("occ"),
        F.count_distinct("doc_id").alias("n_docs"),
    )
    return (
        per_hash.groupBy("occ")
        .agg(
            F.count("*").alias("n_chunks"),
            F.max("n_docs").alias("n_docs_max"),
        )
        .select(F.col("occ").alias("occurrences"), "n_chunks", "n_docs_max")
    )


def inc_chunk_dedup(spark, sf_dir):
    """Incremental chunk dedup — the arrival-time question a RAG
    ingest pipeline asks before paying for embeddings: of the NEW
    batch's full chunks, which content hashes are already in the
    index? Fixture split (the inc_dedup_merge convention): even doc_id
    = already-indexed corpus, odd doc_id = arriving batch. Output per
    arriving document: chunk counts, how many are NOVEL — absent from
    the index AND the first occurrence within the batch itself (a hash
    repeated across arriving docs is embedded once, by its
    deterministically-first occurrence: lowest (doc_id, chunk_id)) —
    and the novel share, the fraction of embedding spend that remains.

    Scale shape: the index side reduces to DISTINCT 8-byte hashes
    (bucketed/bloom-backed at 100 TB); the classification is one
    hash-keyed left join plus one hash-keyed first-occurrence window,
    both carrying (doc_id, hash) — vectors and text never move."""
    from pyspark.sql.window import Window

    chunks = text_chunk_windows(spark, sf_dir).where(
        F.col("n_tokens") == CHUNK_TOKENS)
    idx = (
        chunks.where(F.col("doc_id") % 2 == 0)
        .select("chunk_hash").distinct()
        .withColumn("indexed", F.lit(1))
    )
    new = chunks.where(F.col("doc_id") % 2 == 1)
    first_w = Window.partitionBy("chunk_hash").orderBy(
        F.asc("doc_id"), F.asc("chunk_id"))
    classified = (
        new.withColumn("occ_rank", F.row_number().over(first_w))
        .join(idx, "chunk_hash", "left")
    )
    novel = F.when(
        F.col("indexed").isNull() & (F.col("occ_rank") == 1), 1
    ).otherwise(0)
    return (
        classified.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(novel).cast("bigint").alias("n_novel"),
        )
        .select(
            "doc_id", "n_chunks", "n_novel",
            F.round(F.col("n_novel") / F.col("n_chunks"), 6)
            .alias("novel_share"),
        )
    )


_DUCK_CHUNKS = f"""
        SELECT doc_id,
               CAST(start_tok / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
               CAST(start_tok AS BIGINT) AS start_tok,
               CAST(least(len(wh) - start_tok, {CHUNK_TOKENS}) AS BIGINT)
                   AS n_tokens,
               list_reduce(
                   list_prepend(CAST({CHAR_SEED} AS BIGINT),
                       wh[start_tok + 1 : start_tok + {CHUNK_TOKENS}]),
                   (acc, x) -> (acc * {WORD_COMBINE} + x) % {MOD}
               ) AS chunk_hash
        FROM (
            SELECT doc_id, {duck_word_hashes(_DUCK_WORDS)} AS wh
            FROM documents WHERE len({_DUCK_WORDS}) > 0
        ), LATERAL (
            SELECT unnest(range(0, len(wh), {CHUNK_STRIDE})) AS start_tok
        ) starts
"""

ORACLE_SQL = {
    "text_chunk_windows": f"SELECT * FROM ({_DUCK_CHUNKS})",
    "chunk_dup_census": f"""
        WITH chunks AS ({_DUCK_CHUNKS}),
        per_hash AS (
            SELECT chunk_hash, count(*) AS occ,
                   count(DISTINCT doc_id) AS n_docs
            FROM chunks WHERE n_tokens = {CHUNK_TOKENS}
            GROUP BY chunk_hash
        )
        SELECT occ AS occurrences, count(*) AS n_chunks,
               CAST(max(n_docs) AS BIGINT) AS n_docs_max
        FROM per_hash GROUP BY occ
    """,
}

ORACLE_SQL["inc_chunk_dedup"] = f"""
    WITH chunks AS (
        SELECT * FROM ({_DUCK_CHUNKS}) WHERE n_tokens = {CHUNK_TOKENS}
    ), idx AS (
        SELECT DISTINCT chunk_hash FROM chunks WHERE doc_id % 2 = 0
    ), ranked AS (
        SELECT *, row_number() OVER (
                   PARTITION BY chunk_hash
                   ORDER BY doc_id, chunk_id) AS occ_rank
        FROM chunks WHERE doc_id % 2 = 1
    )
    SELECT n.doc_id, count(*) AS n_chunks,
           CAST(sum(CASE WHEN i.chunk_hash IS NULL AND n.occ_rank = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           round(CAST(sum(CASE WHEN i.chunk_hash IS NULL AND n.occ_rank = 1
                              THEN 1 ELSE 0 END)
                      AS BIGINT) / CAST(count(*) AS BIGINT), 6)
               AS novel_share
    FROM ranked n LEFT JOIN idx i ON i.chunk_hash = n.chunk_hash
    GROUP BY n.doc_id
"""

QUERIES = {
    "text_chunk_windows": text_chunk_windows,
    "chunk_dup_census": chunk_dup_census,
    "inc_chunk_dedup": inc_chunk_dedup,
}
