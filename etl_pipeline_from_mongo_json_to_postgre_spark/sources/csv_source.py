"""CSV source: schema-enforced scan with malformed-row auditing.

Source-family completion (SURVEY.md §2.1): the reference ingests JSON
collections; real pipelines also receive CSV drops. Same contract as
the JSONL scan (sources/json_source.read_collection_jsonl): explicit
schema, PERMISSIVE parse, malformed lines preserved in a corrupt-record
column and AUDITED, never silently dropped.

Scale notes: `spark.read.csv` is a distributed line-splittable scan
(one task per split, no driver-side materialization); the staging
helper writes through executors (`df.write.csv`), capped so a
mis-pointed sf_dir cannot silently stage an unbounded table — the same
guard discipline as sources/mongo_datasource.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ._stage import guard_stage_rows, stage_dir
from .parquet import load_table

CACHE_ROOT = "/tmp/spark_graft_csv_stage"
# Hard cap on staged rows: staging is a harness convenience (real CSV
# drops arrive from outside); a cap failure is a loud error, not an OOM.
MAX_STAGE_ROWS = 1_000_000

CORRUPT_COL = "_corrupt_record"

DOCUMENTS_CSV_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("source", StringType(), True),
        StructField("n_chars", LongType(), True),
        StructField(CORRUPT_COL, StringType(), True),
    ]
)


def stage_documents_csv(spark: SparkSession, sf_dir: str) -> str:
    """Stage the documents table as a header'd CSV directory (idempotent
    per (sf_dir, source fingerprint); executor-side write, no driver
    collect — shared disciplines in sources/_stage.py)."""
    out = stage_dir(CACHE_ROOT, sf_dir)
    marker = os.path.join(out, "_SUCCESS")
    if os.path.exists(marker):
        return out
    d = load_table(spark, sf_dir, "documents")
    guard_stage_rows(d, MAX_STAGE_ROWS, f"stage_documents_csv({sf_dir})")
    (
        d.select("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite")
        .option("header", True)
        .option("quoteAll", True)
        # RFC-4180 quote doubling ("" inside a quoted field) on BOTH
        # sides of the round trip — paired with multiLine on the read.
        .option("escape", '"')
        .csv(out)
    )
    return out


def read_documents_csv(spark: SparkSession, path: str) -> DataFrame:
    """Schema-enforced PERMISSIVE scan: rows that fail the schema land
    with their raw line in the corrupt-record column for auditing."""
    # multiLine: the stage write quotes all fields (quoteAll), so a text
    # value containing embedded newlines round-trips as ONE quoted record;
    # without it the read splits that record into corrupt rows (ADVICE
    # r4). Costs line-splittability on the quoted file — correctness
    # over split parallelism for document text.
    return (
        spark.read.schema(DOCUMENTS_CSV_SCHEMA)
        .option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    )


def s10_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: stage documents → CSV → schema-enforced read →
    per-lang census (docs, chars, malformed count). A value drift or a
    silently-dropped/corrupted row breaks parity with the parquet-direct
    oracle."""
    path = stage_documents_csv(spark, sf_dir)
    df = read_documents_csv(spark, path)
    return df.groupBy("lang").agg(
        F.count("*").alias("docs"),
        F.sum("n_chars").alias("chars_total"),
        F.count(F.col(CORRUPT_COL)).alias("malformed"),
    )


ORACLE_SQL = {
    "s10_csv_roundtrip": """
        SELECT lang, count(*) AS docs,
               CAST(sum(n_chars) AS BIGINT) AS chars_total,
               CAST(0 AS BIGINT) AS malformed
        FROM documents GROUP BY lang
    """,
}

QUERIES = {
    "s10_csv_roundtrip": s10_csv_roundtrip,
}
