"""Interleaved multimodal sample packing (VERDICT r8 task 5).

The step between text-only ``corpus.pack_sequences`` and the shard
writer for a MULTIMODAL training pipeline: documents are joined to
their media payloads (real binary bytes flowing through the join, the
multimodal.py discipline), each document's pack cost is its text token
count PLUS its media token-equivalents, and the combined stream is
greedily packed into fixed-budget bins per shard — the manifest a
multimodal dataloader consumes (doc spans + media refs + budgets per
pack).

Scale shape (the whole point): the doc⋈media join is laid out on the
SHARD key — shard is a pure function of doc_id, so repartitioning both
sides by shard co-locates equal doc_ids, and joining ON
(shard, doc_id) lets EnsureRequirements accept the shard layout
(hashpartitioning(shard) clusters any key set containing shard). The
packing window (partitionBy shard) and the final (shard, pack_id)
aggregate then reuse that SAME layout: the plan carries exactly the
two join-input exchanges and NOTHING after the join — zero shuffle
beyond the doc⋈media join, pinned in tests/test_mm_pack.py.

Media cost model: every third document carries one synthetic PPM image
(multimodal._ppm_bytes — real P6 bytes, Arrow-batched synth); its
token-equivalent is ceil(n_payload_bytes / BYTES_PER_MEDIA_TOKEN),
with n_bytes measured Spark-side from the ACTUAL binary column
(F.length(payload)) while the oracle recomputes the closed-form size
11 + 3*(4 + id%5)*(4 + id%3) — a wrong byte count anywhere in the
synth/join/length path breaks parity.

Reference parity: the reference is text-only (no media tables); this
extends its document model the way SURVEY §2's LLM-pipeline families
extend its query surface. Packing discipline matches pack_sequences
(a doc belongs to the bin containing its first token).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.sampling import scrambled_key, scrambled_key_sql
from ..sources.parquet import fan_out, load_table
from .corpus import SHARDS, _DUCK_WORDS, _words
from .multimodal import _ppm_bytes, _payload_table

PACK_LEN = 4096            # token budget per multimodal pack
BYTES_PER_MEDIA_TOKEN = 16  # 1 media token-equivalent per 16 payload bytes
MEDIA_EVERY = 3            # docs with doc_id % MEDIA_EVERY == 0 carry media


def _doc_media(spark, sf_dir):
    """The (media_id, payload) binary table for the docs that carry
    media — real PPM bytes through an Arrow-batched synth stage."""
    ids = (
        fan_out(spark, load_table(spark, sf_dir, "documents"))
        .select(F.col("doc_id").alias("media_id"))
        .where(F.col("media_id") % MEDIA_EVERY == 0)
    )
    return _payload_table(ids, _ppm_bytes)


def _packed_docs(spark, sf_dir, carry_content: bool = False):
    """Per-document pack assignment (shard, doc_id, pack_id,
    text_tokens, media_tokens): the shared frame the manifest census
    aggregates and the shard writer materializes — one packing rule,
    two consumers, so the written shards can never drift from the
    audited manifest. With ``carry_content`` the text and payload
    columns ride the SAME shard-aligned join (the writer's path), so
    materializing shards costs no second documents scan, no second
    payload synthesis, and no extra join (r10 review)."""
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    docs = fan_out(spark, load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.size(_words(F.col("text"))).cast("bigint").alias("text_tokens"),
        scrambled_key(F.col("doc_id"), SHARDS).alias("shard"),
        *(["text"] if carry_content else []),
    )
    media = _doc_media(spark, sf_dir).select(
        "media_id",
        scrambled_key(F.col("media_id"), SHARDS).alias("m_shard"),
        F.ceil(F.length("payload") / F.lit(BYTES_PER_MEDIA_TOKEN))
        .cast("bigint").alias("media_tokens"),
        *(["payload"] if carry_content else []),
    )
    # lay BOTH join inputs out on the shard key: shard is a function of
    # the join key, so equal doc_ids are co-located, and including
    # shard in the equi-join condition lets the planner prove it —
    # everything downstream (window, aggregate) reuses this layout.
    # The proof reaches a SHUFFLED join only because the session sets
    # requireAllClusterKeysForCoPartition=false (session.SESSION_CONFS:
    # with the default true, the planner insists children be
    # partitioned on the FULL join key set and re-shuffles onto
    # (shard, doc_id), then back onto shard for the window — two extra
    # |docs| exchanges, plan-pinned in BOTH broadcast and SMJ regimes
    # in tests/test_mm_pack.py). Subset-key co-partitioning caps join
    # parallelism at |distinct shards|, so at 100 TB SHARDS is sized to
    # the cluster (thousands), exactly like pack_sequences' window
    # parallelism.
    docs = docs.repartition(n_parts, "shard")
    media = media.repartition(n_parts, "m_shard")
    joined = docs.join(
        media,
        (docs.shard == media.m_shard) & (docs.doc_id == media.media_id),
        "left",
    ).select(
        "shard", "doc_id", "text_tokens",
        F.coalesce("media_tokens", F.lit(0)).alias("media_tokens"),
        *(["text", "payload"] if carry_content else []),
    )
    cost = F.col("text_tokens") + F.col("media_tokens")
    win = (
        Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(cost).over(win)
    return joined.select(
        "shard", "doc_id", "text_tokens", "media_tokens",
        F.floor((cum - cost) / F.lit(PACK_LEN)).alias("pack_id"),
        *(["text", "payload"] if carry_content else []),
    )


def mm_interleaved_pack(spark, sf_dir):
    """Per-(shard, pack) manifest census: doc count, media count, text
    tokens, media token-equivalents, total tokens. Deterministic: the
    shard is a pure scramble of doc_id, packing order is doc_id, and
    the greedy rule is the pack_sequences cumulative-window discipline.
    """
    return (
        _packed_docs(spark, sf_dir)
        .select(
            "shard", "pack_id", "text_tokens", "media_tokens",
            (F.col("media_tokens") > 0).cast("int").alias("has_media"),
        )
        .groupBy("shard", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("has_media").cast("bigint").alias("n_media"),
            F.sum("text_tokens").alias("text_tokens"),
            F.sum("media_tokens").alias("media_tokens"),
        )
    )


def write_mm_packed_shards(spark, sf_dir, path: str) -> None:
    """Materialize the interleaved-pack membership as training shards
    (path/shard=K/*.parquet) — the step the text mixture already has
    (mixing.write_mixture_shards) applied to the MULTIMODAL stream:
    each row carries its pack assignment, its text, and its REAL media
    payload bytes inline (NULL for text-only docs), ordered by
    (pack_id, doc_id) inside every file so a dataloader streams packs
    contiguously.

    Layout contract (mirrors storage.write_training_shards): shard
    membership is the SAME pure function of doc_id the manifest census
    uses — _packed_docs is the single source of both — so retries,
    re-runs, and the audited manifest agree; range-partitioning the
    shard ids gives one writer per shard (no tiny-file spray);
    maxRecordsPerFile caps file size for loader parallelism while the
    per-partition sort keeps every file internally pack-ordered. At
    100 TB: raise SHARDS to O(cluster cores); text and payload RIDE the
    manifest's one shard-aligned join (carry_content — no second scan,
    no second payload synthesis, no extra join; r10 review), so the
    writer adds only the range exchange on shard ids."""
    out = _packed_docs(spark, sf_dir, carry_content=True).select(
        "shard", "pack_id", "doc_id", "text_tokens",
        "media_tokens", "text", "payload",
    )
    (
        out.repartitionByRange(SHARDS, "shard")
        .sortWithinPartitions("shard", "pack_id", "doc_id")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 200)
        .partitionBy("shard")
        .parquet(path)
    )


QUERIES = {
    "mm_interleaved_pack": mm_interleaved_pack,
}

ORACLE_SQL = {
    # media payload size is recomputed closed-form from the PPM synth
    # rule (header "P6\n{w} {h}\n255\n" = 11 bytes for 1-digit dims +
    # 3*w*h raster bytes); the engine measures length() on real bytes
    "mm_interleaved_pack": f"""
        WITH docs AS (
            SELECT doc_id,
                   len({_DUCK_WORDS}) AS text_tokens,
                   {scrambled_key_sql('doc_id', SHARDS)} AS shard,
                   CASE WHEN doc_id % {MEDIA_EVERY} = 0 THEN
                       CAST(ceil((11 + 3 * (4 + doc_id % 5) * (4 + doc_id % 3))
                                 / {BYTES_PER_MEDIA_TOKEN}.0) AS BIGINT)
                   ELSE 0 END AS media_tokens
            FROM documents
        ), packed AS (
            SELECT shard, text_tokens, media_tokens,
                   CASE WHEN media_tokens > 0 THEN 1 ELSE 0 END AS has_media,
                   CAST(floor((sum(text_tokens + media_tokens) OVER (
                            PARTITION BY shard ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING)
                          - (text_tokens + media_tokens))
                        / {PACK_LEN}) AS BIGINT) AS pack_id
            FROM docs
        )
        SELECT shard, pack_id,
               count(*) AS n_docs,
               CAST(sum(has_media) AS BIGINT) AS n_media,
               CAST(sum(text_tokens) AS BIGINT) AS text_tokens,
               CAST(sum(media_tokens) AS BIGINT) AS media_tokens
        FROM packed GROUP BY shard, pack_id
    """,
}
