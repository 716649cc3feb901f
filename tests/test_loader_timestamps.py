"""Anti-regression: no timestamp column escapes the loaders un-normalized.

The driver's testdata re-encoded its timestamps between rounds
(TIMESTAMP(NANOS) -> timestamp[us] no-tz), which silently flipped
Spark's read type to TIMESTAMP_NTZ and broke every withWatermark /
unix_micros call site (six queries, one crashed bench). This test pins
the loader contract: every timestamp-ish source column comes out of
``load_table`` / ``watch_table`` as plain TimestampType — never
TimestampNTZType, never a raw bigint of nanos.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from etl_pipeline_from_mongo_json_to_postgre_spark.sources.parquet import (
    TABLES,
    load_table,
)
from etl_pipeline_from_mongo_json_to_postgre_spark.streaming.harness import watch_table

SF_DIRS = [
    d for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    if os.path.isdir(d)
]

# columns that must surface as TimestampType regardless of parquet encoding
KNOWN_TS_COLUMNS = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("name", TABLES)
def test_load_table_never_exposes_ntz(spark, sf_dir, name):
    df = load_table(spark, sf_dir, name)
    for field in df.schema.fields:
        assert not isinstance(field.dataType, TimestampNTZType), (
            f"{name}.{field.name} leaked TIMESTAMP_NTZ out of load_table"
        )
    for col in KNOWN_TS_COLUMNS.get(name, []):
        dt = df.schema[col].dataType
        assert isinstance(dt, TimestampType), (
            f"{name}.{col} should be TimestampType, got {dt} "
            "(raw nanos-long or NTZ leaked through the loader)"
        )
        assert not isinstance(dt, LongType)


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_events_stream_ts_is_watermarkable(spark, sf_dir):
    stream = watch_table(spark, sf_dir, "events")
    dt = stream.schema["ts"].dataType
    assert isinstance(dt, TimestampType), f"stream ts is {dt}, not TIMESTAMP"
    # the actual contract: withWatermark analyzes cleanly
    stream.withWatermark("ts", "2 hours")
