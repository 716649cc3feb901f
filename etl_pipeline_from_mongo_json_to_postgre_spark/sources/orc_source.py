"""ORC source/sink: partitioned columnar round trip.

Source-family completion alongside CSV (csv_source.py) and JSONL
(json_source.py): ORC is the other columnar format Spark ships a
native vectorized reader for, and the one most Hive-era warehouses
hand over. The staged layout is PARTITIONED BY lang — the layout a
100 TB document store actually uses — so a lang-filtered scan prunes
whole directories (asserted in tests/test_plans.py) instead of reading
and discarding rows.

Scale notes: staging writes through executors (df.write.orc), capped
like the CSV stage so a mis-pointed sf_dir errors loudly; reads are
split-parallel vectorized ORC scans with predicate pushdown. The cache
key includes a source fingerprint so regenerated testdata invalidates
the stage instead of serving stale files (same ADVICE-r4 discipline as
csv_source).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._stage import guard_stage_rows, stage_dir
from .csv_source import MAX_STAGE_ROWS
from .parquet import load_table

CACHE_ROOT = "/tmp/spark_graft_orc_stage"


def stage_documents_orc(spark: SparkSession, sf_dir: str) -> str:
    """Stage the documents table as a lang-partitioned ORC directory
    (idempotent per (sf_dir, source fingerprint) — shared disciplines
    in sources/_stage.py)."""
    out = stage_dir(CACHE_ROOT, sf_dir)
    marker = os.path.join(out, "_SUCCESS")
    if os.path.exists(marker):
        return out
    d = load_table(spark, sf_dir, "documents")
    guard_stage_rows(d, MAX_STAGE_ROWS, f"stage_documents_orc({sf_dir})")
    (
        d.select("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite")
        .partitionBy("lang")
        .orc(out)
    )
    return out


def read_documents_orc(spark: SparkSession, path: str) -> DataFrame:
    """Vectorized ORC scan over the partitioned layout; `lang` comes
    back as the partition column."""
    return spark.read.orc(path)


def s11_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: stage documents → lang-partitioned ORC →
    vectorized read → per-lang census (docs, chars, distinct sources).
    Any row lost or value drifted through the write/read path breaks
    parity with the parquet-direct oracle."""
    path = stage_documents_orc(spark, sf_dir)
    df = read_documents_orc(spark, path)
    return df.groupBy("lang").agg(
        F.count("*").alias("docs"),
        F.sum("n_chars").alias("chars_total"),
        F.count_distinct("source").alias("n_sources"),
    )


ORACLE_SQL = {
    "s11_orc_roundtrip": """
        SELECT lang, count(*) AS docs,
               CAST(sum(n_chars) AS BIGINT) AS chars_total,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        FROM documents GROUP BY lang
    """,
}

QUERIES = {
    "s11_orc_roundtrip": s11_orc_roundtrip,
}
