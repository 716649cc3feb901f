"""Golden ETL tests: ingest -> transform -> audit (FIXTURES.md family A)."""

import json

from pyspark.sql import functions as F

from etl_pipeline_from_mongo_json_to_postgre_spark.operators import (
    missing_table_audit_rows,
    transform_collection,
)
from etl_pipeline_from_mongo_json_to_postgre_spark.plans import MappingPlan
from etl_pipeline_from_mongo_json_to_postgre_spark.sources import (
    collections_to_raw_df,
    validate_input_shape,
)
from etl_pipeline_from_mongo_json_to_postgre_spark.errors import InputError

import pytest

SPEC = {
    "target_table": "public.customers",
    "object_id_attribute": "customer_id",
    "mappings": {
        "customer_id": {"column": "customer_id", "type": "integer"},
        "name": {"column": "name", "type": "text"},
        "signup_date": {"column": "signup_date", "type": "date"},
        "email": {"column": "email", "type": "text"},
    },
}

DOCS = [
    {"customer_id": 1, "name": "Alice", "signup_date": "2024-01-15", "email": "a@x.com"},
    {"customer_id": 2, "name": 42, "signup_date": "01/16/2024"},
    {"customer_id": 3, "name": "Chen", "signup_date": "16-01-2024", "email": None},
    {"customer_id": 4, "name": "D", "signup_date": "not-a-date", "email": "d@x.com"},
]


def _run(spark):
    plan = MappingPlan.from_config("customers", SPEC)
    raw = collections_to_raw_df(spark, {"customers": DOCS})["customers"]
    return transform_collection(raw, plan, ingested_at="2024-06-01 00:00:00")


def test_data_frame_shape_and_values(spark):
    data, _ = _run(spark)
    rows = {r["customer_id"]: r for r in data.collect()}
    assert set(data.columns) == {
        "customer_id", "name", "signup_date", "email",
        "raw_json", "ingested_at", "source_collection", "status",
    }
    assert rows[1]["signup_date"].isoformat() == "2024-01-15"
    assert rows[2]["signup_date"].isoformat() == "2024-01-16"  # m/d/Y format
    assert rows[2]["name"] == "42"  # str() cast
    assert rows[2]["email"] is None  # absent -> NULL
    assert rows[3]["signup_date"].isoformat() == "2024-01-16"  # d-m-Y format
    assert rows[4]["signup_date"] is None  # uncastable
    assert rows[4]["status"] == "error"
    assert rows[1]["status"] == "success"
    assert json.loads(rows[1]["raw_json"])["email"] == "a@x.com"


def test_audit_frame_missing_vs_null_vs_error(spark):
    _, audit = _run(spark)
    rows = {r["object_id"]: r for r in audit.collect()}
    assert rows["2"]["missing_columns"] == ["email"]  # absent attr tracked
    assert rows["3"]["missing_columns"] == []  # present-but-null NOT missing
    assert rows["4"]["missing_columns"] == []
    assert rows["4"]["processing_status"] == "error"  # uncastable -> error
    assert rows["1"]["processing_status"] == "success"
    assert all(r["object_name"] == "public.customers" for r in rows.values())
    assert all(r["object_status"] == "NEW" for r in rows.values())


def test_missing_table_audit_rows(spark):
    df = missing_table_audit_rows(
        spark,
        ["public.orders", "public.products"],
        {"public.orders": "orders"},
        ingested_at="2024-06-01 00:00:00",
    )
    rows = {r["object_name"]: r for r in df.collect()}
    assert rows["public.orders"]["source_collection"] == "orders"
    assert rows["public.products"]["source_collection"] is None
    assert all(r["object_status"] == "MISSING" for r in rows.values())
    assert all(r["processing_status"] == "missing" for r in rows.values())


def test_input_shape_validation():
    validate_input_shape({"c": [{"a": 1}]})
    with pytest.raises(InputError):
        validate_input_shape([1, 2])
    with pytest.raises(InputError):
        validate_input_shape({"c": {"a": 1}})
    with pytest.raises(InputError):
        validate_input_shape({"c": [1]})


def test_nested_values_survive_only_in_raw_json(spark):
    docs = [{"customer_id": 9, "name": {"first": "X"}, "signup_date": "2024-01-15"}]
    plan = MappingPlan.from_config("customers", SPEC)
    raw = collections_to_raw_df(spark, {"customers": docs})["customers"]
    data, _ = transform_collection(raw, plan, ingested_at="2024-06-01 00:00:00")
    row = data.collect()[0]
    assert json.loads(row["raw_json"])["name"] == {"first": "X"}
    assert json.loads(row["name"]) == {"first": "X"}  # mapped col: JSON text


# raw document text -> object_id; numbers come back in the form Spark's
# JSON parser renders them
OBJECT_ID_CASES = [
    ('{"k": 0, "id": 1.50}', "1.5"),
    ('{"k": 1, "id": 1e5}', "100000.0"),
    ('{"k": 2, "id": {"$oid": "x"}}', '{"$oid":"x"}'),
    ('{"k": 3, "id": "abc"}', "abc"),
    ('{"k": 4, "id": null}', None),
    ('{"k": 5}', None),
    ('{"k": 6, "id": true}', "true"),
    ('{"k": 7, "id": 12345678901234567890}', "12345678901234567890"),
]


def test_object_id_read_from_parsed_document(spark):
    """object_id is the attribute's value in the parsed document: JSON
    null and an absent key give NULL, nested values their compact text."""
    spec = {"target_table": "t", "object_id_attribute": "id",
            "mappings": {"k": {"column": "k", "type": "integer"}}}
    raw = spark.createDataFrame([(t,) for t, _ in OBJECT_ID_CASES], "raw_json string")
    _, audit = transform_collection(raw, MappingPlan.from_config("c", spec),
                                    ingested_at="2024-06-01 00:00:00")
    got = sorted((r["object_id"] for r in audit.collect()), key=repr)
    assert got == sorted((want for _, want in OBJECT_ID_CASES), key=repr)


def test_dotted_object_id_attribute_is_a_top_level_key(spark):
    """A name with '.' is looked up as one key, like a mapped attribute,
    not as a JSON path into a nested object."""
    spec = {"target_table": "t", "object_id_attribute": "a.b",
            "mappings": {"a.b": {"column": "ab", "type": "integer"}}}
    raw = spark.createDataFrame([('{"a.b": 7, "a": {"b": 8}}',)], "raw_json string")
    data, audit = transform_collection(raw, MappingPlan.from_config("c", spec),
                                       ingested_at="2024-06-01 00:00:00")
    assert data.first()["ab"] == 7
    assert audit.first()["object_id"] == "7"
