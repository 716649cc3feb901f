"""Parquet table loaders for the driver's synthetic star schema.

Columnar scans with Catalyst predicate pushdown / column pruning for
free; at cluster scale these would be partitioned table paths — the
API stays the same.

Timestamp normalization: the testdata has been re-encoded between
rounds (TIMESTAMP(NANOS) in one round, timestamp[us] with no timezone
in the next), so the loader absorbs BOTH encodings and guarantees that
every timestamp column leaving ``read_normalized`` (``load_table`` and
the streaming ``watch_table``) is plain TimestampType (TIMESTAMP_LTZ):

* TIMESTAMP(NANOS): Spark's vectorized reader rejects it; we read
  those columns as nanosecond longs (spark.sql.legacy.parquet.
  nanosAsLong) and convert via integer division (`DIV 1000` — double
  division would lose microsecond precision at 1.7e18 ns). DuckDB
  truncates nanos->micros the same way, so oracle parity holds.
* timestamp[us] without tz: under the default
  ``spark.sql.parquet.inferTimestampNTZ.enabled=true`` Spark reads it
  as TIMESTAMP_NTZ, which breaks ``withWatermark`` / ``unix_micros``
  call sites. We disable the inference per-read and additionally cast
  any NTZ column that still escapes to ``timestamp``. The session
  timezone is pinned UTC (session.SESSION_CONFS), so NTZ->LTZ is
  value-preserving and DuckDB (UTC-naive) parity holds.
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@lru_cache(maxsize=256)
def _nano_ts_columns(path: str) -> tuple[str, ...]:
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa
    except ImportError:  # pragma: no cover
        return ()
    if os.path.isdir(path):
        # Spark-written dataset directory: any one part file carries the
        # (uniform) footer schema.
        parts = sorted(
            f for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        if not parts:
            return ()
        path = os.path.join(path, parts[0])
    schema = pq.read_schema(path)
    return tuple(
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to TimestampType (LTZ).

    Value-preserving because the session timezone is pinned UTC; keeps
    ``withWatermark`` / ``unix_micros`` call sites working regardless
    of how the source parquet encodes its timestamps.
    """
    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def read_normalized(spark: SparkSession, path: str, read) -> DataFrame:
    """``read(path)`` (a batch or a streaming reader) under the
    timestamp read confs, with every timestamp column converted to
    TimestampType. ``load_table`` and ``streaming.harness.watch_table``
    both read through here, so batch and stream convert in one place."""
    nano_cols = _nano_ts_columns(path)
    if nano_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        # belt-and-suspenders with normalize_timestamps: read tz-less
        # micros parquet directly as TIMESTAMP_LTZ
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:
        pass
    df = read(path)
    for c in nano_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` DIV 1000)"))
    return normalize_timestamps(df)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_normalized(
        spark, os.path.join(sf_dir, f"{name}.parquet"), spark.read.parquet)


def load_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet dataset whose files were written under DIFFERENT
    schema versions (columns added over time — the normal life of a
    100 TB table that outlives its first writer).

    ``mergeSchema`` unions the footer schemas: rows from files missing
    a column surface it as NULL, matching the engine's
    missing-attribute semantics (plans/mapping_plan.py). Cost note:
    schema merging reads every file footer up front — on huge tables
    prefer a table format / explicit schema and reserve this for
    landing zones where writers drift. Timestamp normalization is the
    same as load_table (one choke point for encoding drift).
    """
    try:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:
        pass
    df = spark.read.option("mergeSchema", "true").parquet(path)
    return normalize_timestamps(df)


def fan_out(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Repartition a narrow scan up to the session's parallelism.

    The testdata parquet is one row group per table, so a scan is ONE
    task and any CPU-heavy per-row pipeline downstream (minhash folds,
    hyperplane dots, JSON transforms) single-threads. On a real cluster
    the scan arrives pre-split and this no-ops (partitions >= target/2);
    locally the shuffle moves the raw rows once and buys full-core
    execution of everything above it.
    """
    target = spark.sparkContext.defaultParallelism
    try:
        # JVM-side partition count: builds the physical RDD lineage but
        # skips the Python-RDD (pickle-conversion) plan that `df.rdd`
        # would construct per call.
        n_parts = df._jdf.rdd().getNumPartitions()
    except Exception:  # private-API drift — fall back to the public path
        n_parts = df.rdd.getNumPartitions()
    if n_parts < target // 2:
        return df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str, names=TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
