"""Schema-inference parity tests (reference ui/run_pipeline.py:261-355).

Golden expectations derived from the reference's rules: bool before int
(Python bool ⊂ int), datetime before date before numeric-string for
strings, observed-type unification, object-id default pick.
"""

import pytest

from etl_pipeline_from_mongo_json_to_postgre_spark.sources import infer
from etl_pipeline_from_mongo_json_to_postgre_spark.sources.json_source import (
    collections_to_raw_df,
)


def _infer(spark, docs):
    df = collections_to_raw_df(spark, {"c": docs})["c"]
    _, mappings = infer.infer_collection_mapping(df)
    return {a: m["type"] for a, m in mappings.items()}


def test_scalar_json_types(spark):
    types = _infer(spark, [
        {"b": True, "i": 7, "f": 1.5, "s": "hello", "n": None},
    ])
    # n: only null observed -> empty set -> text (reference :286-287)
    assert types == {"b": "boolean", "i": "integer", "f": "numeric",
                     "s": "text", "n": "text"}


def test_bool_not_integer(spark):
    # reference checks bool BEFORE int because Python bool ⊂ int
    # (ui/run_pipeline.py:302-309)
    assert _infer(spark, [{"x": True}, {"x": False}]) == {"x": "boolean"}


def test_string_sniffing_date_datetime_numeric(spark):
    types = _infer(spark, [{
        "d": "2024-03-05",
        "d2": "07/15/2024",
        "dt": "2024-03-05T10:11:12",
        "dt2": "07/15/2024 03:22 PM",
        "int_s": "42",
        "num_s": "4.25",
        "t": "not a date",
    }])
    assert types == {"d": "date", "d2": "date", "dt": "datetime",
                     "dt2": "datetime", "int_s": "integer",
                     "num_s": "numeric", "t": "text"}


def test_unification_rules(spark):
    # {integer, numeric} -> numeric; mixed -> text (reference :287-299)
    assert _infer(spark, [{"x": 1}, {"x": 2.5}]) == {"x": "numeric"}
    assert _infer(spark, [{"x": 1}, {"x": "abc"}]) == {"x": "text"}
    assert _infer(spark, [{"x": "2024-01-01"}, {"x": "2024-01-01T00:00:01"}]) == {"x": "text"}
    assert _infer(spark, [{"x": 1}, {"x": None}, {}]) == {"x": "integer"}


def test_nested_values_are_text(spark):
    types = _infer(spark, [{"arr": [1, 2], "obj": {"k": 1}}])
    assert types == {"arr": "text", "obj": "text"}


def test_attribute_union_across_documents(spark):
    types = _infer(spark, [{"a": 1}, {"b": "x"}, {"a": 2, "c": True}])
    assert sorted(types) == ["a", "b", "c"]


def test_unify_types_pure():
    assert infer.unify_types(set()) == "text"
    assert infer.unify_types({"integer"}) == "integer"
    assert infer.unify_types({"integer", "numeric"}) == "numeric"
    assert infer.unify_types({"boolean"}) == "boolean"
    assert infer.unify_types({"date"}) == "date"
    assert infer.unify_types({"date", "datetime"}) == "text"
    assert infer.unify_types({"datetime"}) == "datetime"
    assert infer.unify_types({"boolean", "integer"}) == "text"


def test_select_object_id():
    # reference ui/run_pipeline.py:269-275
    assert infer.select_object_id(["a", "_id", "id"]) == "_id"
    assert infer.select_object_id(["a", "id"]) == "id"
    assert infer.select_object_id(["b", "a"]) == "b"
    assert infer.select_object_id([]) == "id"


def test_build_mapping_config_shape(spark):
    colls = collections_to_raw_df(spark, {
        "customers": [{"_id": "c1", "name": "Ann", "age": 31}],
        "orders": [{"id": 5, "total": "10.50"}],
    })
    cfg = infer.build_mapping_config(colls, target_schema="staging")
    cust = cfg["collections"]["customers"]
    assert cust["target_table"] == "staging.customers"
    assert cust["object_id_attribute"] == "_id"
    assert cust["mappings"]["age"]["type"] == "integer"
    assert cfg["collections"]["orders"]["object_id_attribute"] == "id"
    assert cfg["collections"]["orders"]["mappings"]["total"]["type"] == "numeric"


def test_inferred_mapping_runs_in_strict_mode(spark):
    """Keys named like reserved columns get the reference editor's
    auto-rename, keys named like the plan's working columns keep their
    names, and the inferred config runs strict: every document lands
    with its values."""
    import json

    from etl_pipeline_from_mongo_json_to_postgre_spark import pipeline

    docs = [
        {"_id": "a1", "status": "active", "raw_json": "r", "missing_columns": "m", "__v": 0},
        {"_id": "a2", "status": "closed", "raw_json": "s", "missing_columns": "n", "__v": 1},
    ]
    cfg = infer.build_mapping_config(collections_to_raw_df(spark, {"accounts": docs}))
    spec = cfg["collections"]["accounts"]
    assert {a: m["column"] for a, m in spec["mappings"].items()} == {
        "__v": "__v", "_id": "_id", "missing_columns": "missing_columns",
        "raw_json": "raw_json1", "status": "status1"}

    res = pipeline.run(spark, {"accounts": docs}, cfg, ingestion_date="2024-06-01")
    rows = sorted(res.data_frames["accounts"].collect(), key=lambda r: r["_id"])
    assert [(r["_id"], r["status1"], r["raw_json1"], r["missing_columns"], r["__v"],
             r["status"]) for r in rows] == [
        ("a1", "active", "r", "m", 0, "success"),
        ("a2", "closed", "s", "n", 1, "success")]
    assert [json.loads(r["raw_json"]) for r in rows] == docs
    assert res.summary()["total_documents"] == 2
