"""Binary-file source: per-file media ingest via Spark's `binaryFile`
reader — the 100 TB path for image/audio/video payloads.

The multimodal operators (operators/multimodal.py) treat media as
opaque binary COLUMNS; this source is the step before that: real
pipelines land one object per media item (an S3 prefix, a shared
filesystem) and ingest them with `spark.read.format("binaryFile")`,
which yields (path, modificationTime, length, content) with one or
more files per task and no driver-side listing of content. Metadata
(ids, modality, language) rides the PATH, extracted with column
expressions — never a Python loop.

Scale notes: binaryFile parallelizes across files (a file is never
split), so object size sets task granularity — right for media blobs,
wrong for one giant tarball; `pathGlobFilter` prunes non-media files
at listing time. The staging helper exists only for the harness
(bounded by MAX_STAGE_ROWS, fingerprint-keyed, executor-side writes
via mapInPandas with deterministic content so task retries are
idempotent); real deployments point the reader at their object store.

Fidelity is oracle-gated end to end: the census compares per-language
file counts, byte totals (binaryFile's `length` AND re-measured
octet_length(content)) and decoded character totals against the
parquet-direct documents table, so a dropped file, truncated content,
or mis-parsed path breaks the value hash.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._stage import guard_stage_rows, stage_dir
from .parquet import load_table

CACHE_ROOT = "/tmp/spark_graft_binfile_stage"
MAX_STAGE_ROWS = 100_000  # one FILE per row: tighter than the csv cap


def stage_document_files(spark: SparkSession, sf_dir: str) -> str:
    """Stage one `doc_<id>_<lang>.bin` file per document (UTF-8 text
    bytes as the stand-in media payload — the same text/plain modality
    mm_binary_stats uses). Executor-side writes through mapInPandas;
    content is a pure function of the row, so task retries rewrite the
    same bytes (idempotent). Bounded and fingerprint-keyed.

    NULL/empty text is SKIPPED, not staged as a 0-byte file: Spark's
    binaryFile scan silently drops empty files (verified on 4.1.2 —
    FileSourceScan never creates a task for them), so a 0-byte object
    is unrepresentable in this source; the oracle mirrors the same
    filter (ADVICE r9)."""
    out = stage_dir(CACHE_ROOT, sf_dir)
    marker = os.path.join(out, "_STAGED")
    if os.path.exists(marker):
        return out
    d = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    guard_stage_rows(d, MAX_STAGE_ROWS, f"stage_document_files({sf_dir})")
    os.makedirs(out, exist_ok=True)

    def _write(batches):
        import re

        import pandas as pd

        for pdf in batches:
            written = []
            for doc_id, text, lang in zip(
                pdf["doc_id"], pdf["text"], pdf["lang"]
            ):
                # The reader parses lang back out of the file NAME with
                # a [a-z]+ pattern; a lang outside that alphabet (e.g.
                # 'pt_BR') would stage fine but silently vanish at scan
                # time, surfacing as a confusing parity break (ADVICE
                # r9). Fail loudly at stage time instead.
                if not isinstance(lang, str) or not re.fullmatch(
                    r"[a-z]+", lang
                ):
                    raise ValueError(
                        f"stage_document_files: lang {lang!r} (doc_id="
                        f"{doc_id}) is outside [a-z]+; the file-name "
                        "metadata contract cannot represent it — widen "
                        "read_media_files' pattern before staging"
                    )
                p = os.path.join(out, f"doc_{doc_id}_{lang}.bin")
                with open(p, "wb") as fh:
                    fh.write(text.encode("utf-8"))
                written.append(int(doc_id))
            yield pd.DataFrame({"doc_id": written})

    (
        d.select("doc_id", "text", "lang")
        .mapInPandas(_write, "doc_id long")
        .count()
    )
    with open(marker, "w") as fh:
        fh.write("ok\n")
    return out


def read_media_files(spark: SparkSession, path: str) -> DataFrame:
    """binaryFile scan of a media prefix: (path, length, content) plus
    doc_id/lang parsed from the file name with column expressions."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(path)
    )
    name = F.regexp_extract(F.col("path"), r"doc_(\d+)_([a-z]+)\.bin$", 0)
    return df.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)_([a-z]+)\.bin$", 1)
        .cast("long")
        .alias("doc_id"),
        F.regexp_extract(F.col("path"), r"doc_(\d+)_([a-z]+)\.bin$", 2)
        .alias("lang"),
        F.col("length"),
        F.col("content"),
    ).where(name != "")


def s13_binaryfile_media_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: stage documents as one binary file each →
    binaryFile scan → per-lang ingest census. Three independent
    measurements must all reconcile with the parquet-direct oracle:
    file counts, byte totals (the reader's `length` AND re-measured
    octet_length(content)), and decoded character totals — so a
    dropped/truncated file or path mis-parse fails the value hash."""
    path = stage_document_files(spark, sf_dir)
    df = read_media_files(spark, path)
    chars = F.length(F.decode(F.col("content"), "UTF-8"))
    return df.groupBy("lang").agg(
        F.count("*").alias("n_files"),
        F.sum("length").alias("listed_bytes"),
        F.sum(F.length("content")).alias("content_bytes"),
        F.max("length").alias("max_bytes"),
        F.sum(chars).alias("chars_measured"),
    )


ORACLE_SQL = {
    # WHERE mirrors the stage convention: NULL/empty text never becomes
    # a file (binaryFile drops 0-byte objects — verified), so neither
    # engine counts it (ADVICE r9).
    "s13_binaryfile_media_scan": """
        SELECT lang, count(*) AS n_files,
               CAST(sum(octet_length(encode(text))) AS BIGINT) AS listed_bytes,
               CAST(sum(octet_length(encode(text))) AS BIGINT) AS content_bytes,
               CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes,
               CAST(sum(length(text)) AS BIGINT) AS chars_measured
        FROM documents
        WHERE text IS NOT NULL AND length(text) > 0
        GROUP BY lang
    """,
}

QUERIES = {
    "s13_binaryfile_media_scan": s13_binaryfile_media_scan,
}
