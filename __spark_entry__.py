"""Driver contract for the spark-graft engine (PySpark target).

entry(spark)    -> flagship query over /root/testdata/sf0.001
queries()       -> {name: (spark, sf_dir) -> DataFrame} per SURVEY.md §2
oracle_sql()    -> {name: DuckDB-equivalent ANSI SQL}

Implementations live in etl_pipeline_from_mongo_json_to_postgre_spark/
(operators/analytics.py, operators/transform_queries.py, ...); this
module only assembles the registries: a plain union of every module's
QUERIES / ORACLE_SQL in _MODULES order. Entry names are unique across
modules (tests/test_registry.py), so the union never shadows one.
Every builder, entry() included, runs inside _boundary, which tunes the
caller's session before the builder starts.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_pipeline_from_mongo_json_to_postgre_spark.operators import (
    analytics,
    ann_trained,
    association,
    bpe,
    chunking,
    corpus,
    curation_ext,
    dedup,
    graph,
    incremental,
    kmeans,
    malformed,
    mm_pack,
    mm_probe,
    mm_resize,
    mixing,
    pca,
    repetition,
    sem_trained,
    timeseries,
    multimodal,
    profiling,
    quantile_sketch,
    scalar_funcs,
    similarity,
    skew,
    text_queries,
    tpch_suite,
    transform_queries,
    variant_ingest,
)
from etl_pipeline_from_mongo_json_to_postgre_spark.session import tune_for_oracle
from etl_pipeline_from_mongo_json_to_postgre_spark.sources import (
    binary_source,
    csv_source,
    mongo_datasource,
    orc_source,
    xml_source,
)
from etl_pipeline_from_mongo_json_to_postgre_spark.streaming import (
    doc_chunks as streaming_doc_chunks,
    events as streaming_events,
    load as streaming_load,
    semantic as streaming_semantic,
    sessionize_native as streaming_sessionize_native,
)

_MODULES = (analytics, transform_queries, scalar_funcs, text_queries, dedup,
            similarity, skew, multimodal, streaming_events, mongo_datasource,
            profiling, corpus, incremental, kmeans, timeseries, pca,
            association, graph, tpch_suite, curation_ext, csv_source,
            orc_source, mixing, ann_trained, variant_ingest, chunking,
            streaming_doc_chunks, repetition, bpe, streaming_load,
            quantile_sketch, malformed, mm_resize, mm_pack, mm_probe,
            sem_trained,
            streaming_sessionize_native, xml_source, binary_source,
            streaming_semantic)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: ingest orders+lineitem as JSON document collections
    through the mapping/transform engine, pivot the audit trail
    (object_name x processing_status) — the reference's dashboard A1
    over a real engine-produced audit frame."""
    return _boundary(transform_queries.audit_status_pivot)(
        spark, "/root/testdata/sf0.001")


def _boundary(fn: Callable) -> Callable:
    """The registry boundary: tune the caller's session, run the
    builder, then cast every TIMESTAMP_LTZ output column to
    TIMESTAMP_NTZ.

    Why tune here: the driver hands us its own session (ANSI on, any
    session time zone), and builders and their helpers assume the
    session.SESSION_CONFS settings. This is the one place they are
    applied; builders never call tune_for_oracle themselves.

    Why cast: PySpark ``collect()`` converts TimestampType through the
    PYTHON PROCESS timezone (datetime.fromtimestamp), so a non-UTC
    driver host would shift collected datetimes while the DuckDB oracle
    stays UTC-naive — a whole class of spurious hash mismatches
    (verified 2026-08-14: exactly the ts-output entries fail under
    TZ=America/New_York, everything else green). The tune step pins the
    session timezone to UTC, so the LTZ->NTZ cast is value-preserving,
    and NTZ collects to a naive datetime with no process-timezone
    involvement — parity now holds under ANY driver host timezone."""
    from functools import wraps

    from pyspark.sql.types import TimestampType

    @wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        tune_for_oracle(spark)
        df = fn(spark, sf_dir)
        from pyspark.sql import functions as F

        for field in df.schema.fields:
            if isinstance(field.dataType, TimestampType):
                df = df.withColumn(
                    field.name, F.col(field.name).cast("timestamp_ntz")
                )
        return df

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        q.update((name, _boundary(fn)) for name, fn in mod.QUERIES.items())
    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    for mod in _MODULES:
        o.update(mod.ORACLE_SQL)
    return o
