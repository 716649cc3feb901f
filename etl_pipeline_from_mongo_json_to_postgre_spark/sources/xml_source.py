"""XML source: schema-enforced scan with malformed-record auditing.

Source-family completion (SURVEY.md §2.1): the reference ingests JSON
document collections; XML is the other semi-structured drop format a
real pipeline receives, and Spark 4 ships the XML source natively (no
external package). Same contract as the CSV/JSONL scans
(sources/csv_source, sources/json_source): explicit schema, PERMISSIVE
parse, malformed records preserved in a corrupt-record column and
AUDITED, never silently dropped.

Scale notes: `spark.read.format("xml")` splits on the rowTag boundary
(one task per split, no driver-side materialization); the staging
helper writes through executors with the same bounded-stage guard as
csv_source (a mis-pointed sf_dir fails loudly instead of staging an
unbounded table). Round-trip fidelity is part of the oracle: the
census sums MEASURED text lengths after the XML round trip against the
parquet-direct lengths, so an entity-escaping or whitespace-trimming
regression in either direction breaks the value hash, not just a row
count.
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

CACHE_ROOT = "/tmp/spark_graft_xml_stage"
MAX_STAGE_ROWS = 1_000_000

CORRUPT_COL = "_corrupt_record"

ROW_TAG = "doc"

DOCUMENTS_XML_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("source", StringType(), True),
        StructField("n_chars", LongType(), True),
        StructField(CORRUPT_COL, StringType(), True),
    ]
)


def stage_documents_xml(spark: SparkSession, sf_dir: str) -> str:
    """Stage the documents table as an XML directory (idempotent per
    (sf_dir, source fingerprint); executor-side write, no driver
    collect — shared disciplines in sources/_stage.py). The writer
    entity-escapes markup inside text nodes, so arbitrary document text
    is safe in the row elements."""
    out = stage_dir(CACHE_ROOT, sf_dir)
    marker = os.path.join(out, "_SUCCESS")
    if os.path.exists(marker):
        return out
    d = load_table(spark, sf_dir, "documents")
    guard_stage_rows(d, MAX_STAGE_ROWS, f"stage_documents_xml({sf_dir})")
    # XML 1.0 cannot represent control characters below 0x20 except
    # tab/newline/CR — a document containing e.g. \x08 would not
    # round-trip and would surface as a bare value-hash mismatch
    # against the oracle's malformed=0 assumption (ADVICE r9). Pre-scan
    # and fail loudly with the offending doc ids instead.
    illegal = d.where(
        F.col("text").rlike(
            "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\uFFFE\\uFFFF]"
        )
    )
    bad = [r.doc_id for r in illegal.select("doc_id").limit(5).collect()]
    if bad:
        raise ValueError(
            f"stage_documents_xml({sf_dir}): document text contains "
            "XML-1.0-illegal control characters (first doc_ids: "
            f"{bad}); these cannot round-trip through the XML source — "
            "clean or exclude them before staging"
        )
    (
        d.select("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite")
        .format("xml")
        .option("rowTag", ROW_TAG)
        .save(out)
    )
    return out


def read_documents_xml(spark: SparkSession, path: str) -> DataFrame:
    """Schema-enforced PERMISSIVE scan: records that fail the schema
    land with their raw XML in the corrupt-record column for auditing."""
    return (
        spark.read.schema(DOCUMENTS_XML_SCHEMA)
        .format("xml")
        .option("rowTag", ROW_TAG)
        # Spark's XML default (ignoreSurroundingSpaces=true) silently
        # TRIMS leading/trailing whitespace from text nodes — a padded
        # document would come back mutated with no corrupt-record audit
        # (caught by the r9 review, confirmed on 4.1.2). Byte-exact
        # round trip requires turning it off.
        .option("ignoreSurroundingSpaces", False)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .load(path)
    )


def s12_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: stage documents → XML → schema-enforced read →
    per-lang census (docs, carried chars, MEASURED post-round-trip
    chars, malformed count). `chars_measured` is length(text) after the
    XML round trip, so entity-escaping or whitespace-trimming drift
    breaks parity with the parquet-direct oracle — a stronger fidelity
    gate than the carried n_chars column alone."""
    path = stage_documents_xml(spark, sf_dir)
    df = read_documents_xml(spark, path)
    return df.groupBy("lang").agg(
        F.count("*").alias("docs"),
        F.sum("n_chars").alias("chars_total"),
        F.sum(F.length("text")).alias("chars_measured"),
        F.count(F.col(CORRUPT_COL)).alias("malformed"),
    )


ORACLE_SQL = {
    "s12_xml_roundtrip": """
        SELECT lang, count(*) AS docs,
               CAST(sum(n_chars) AS BIGINT) AS chars_total,
               CAST(sum(length(text)) AS BIGINT) AS chars_measured,
               CAST(0 AS BIGINT) AS malformed
        FROM documents GROUP BY lang
    """,
}

QUERIES = {
    "s12_xml_roundtrip": s12_xml_roundtrip,
}
