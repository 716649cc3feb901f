"""Distributed Mongo scan via the Python DataSource API.

Export mode runs end-to-end here (no server needed); live mode's
partition planning is pure arithmetic and tested directly. The row
contract (collection, raw_json: the BSON-normalized document as the
text every other source gives it) is shared by both modes.
"""

from __future__ import annotations

import json

import pytest

from etl_pipeline_from_mongo_json_to_postgre_spark.errors import InputError
from etl_pipeline_from_mongo_json_to_postgre_spark.sources.mongo import stage_to_json
from etl_pipeline_from_mongo_json_to_postgre_spark.sources.mongo_datasource import (
    MongoDataSourceReader,
    plan_object_id_ranges,
    register,
)


@pytest.fixture()
def export_dir(tmp_path):
    stage_to_json(
        {
            "customers": [
                {"_id": "64b000000000000000000001", "name": "Ana", "n": 1},
                {"_id": "64b000000000000000000002", "name": "Bo", "n": 2},
            ],
            "orders": [
                {"_id": "64b000000000000000000003", "total": 9.5},
            ],
        },
        str(tmp_path / "dump.json"),
    )
    return str(tmp_path)


def test_export_scan_reads_all_collections(spark, export_dir):
    register(spark)
    df = spark.read.format("mongodb_py").option("path", export_dir).load()
    assert df.columns == ["collection", "raw_json"]
    rows = {(r.collection, json.loads(r.raw_json)["_id"]) for r in df.collect()}
    assert rows == {
        ("customers", "64b000000000000000000001"),
        ("customers", "64b000000000000000000002"),
        ("orders", "64b000000000000000000003"),
    }
    # raw_json is normalized, parseable JSON
    doc = json.loads(df.where("collection = 'orders'").head().raw_json)
    assert doc["total"] == 9.5


def test_export_scan_collection_filter_and_partitioning(spark, export_dir):
    register(spark)
    df = (
        spark.read.format("mongodb_py")
        .option("path", export_dir)
        .option("collection", "customers")
        .load()
    )
    assert df.count() == 2
    # one partition per (file, collection): filtered scan plans exactly 1
    assert df.rdd.getNumPartitions() == 1


def test_export_requires_path():
    with pytest.raises(InputError, match="path"):
        MongoDataSourceReader({"mode": "export"}).partitions()


def test_export_rejects_a_non_object_document(tmp_path):
    """A wrong-shape export file is the InputError run() raises for it,
    at planning time, not a Python failure inside a Spark job."""
    path = tmp_path / "bad.json"
    path.write_text(json.dumps({"c": [{"a": 1}, 5]}))
    with pytest.raises(InputError, match="collection 'c'"):
        MongoDataSourceReader({"path": str(path)}).partitions()


# out-of-order keys, nested values, a non-ASCII string, a bad integer
# and a bad date: the same documents through every source
SAME_DOCS = {
    "c": [
        {"z": 1, "id": 1, "a": "x", "nested": {"b": [1, {"c": None}], "a": "\u00e9"}},
        {"id": 2, "z": "not-int", "when": "2024-01-15"},
        {"when": "2024-02-30", "nested": [3, 2, 1], "id": 3},
    ],
    "d": [{"k": "b", "id": "d1"}, {"id": "d2", "k": {"y": 2, "x": 1}}],
}
SAME_MAPPING = {"collections": {
    "c": {"target_table": "public.c", "object_id_attribute": "id", "mappings": {
        "id": {"column": "id", "type": "integer"},
        "z": {"column": "z", "type": "integer"},
        "a": {"column": "a", "type": "text"},
        "when": {"column": "when", "type": "date"},
        "nested": {"column": "nested", "type": "text"}}},
    "d": {"target_table": "public.d", "object_id_attribute": "id", "mappings": {
        "id": {"column": "id", "type": "text"},
        "k": {"column": "k", "type": "text"}}},
}}


def test_every_source_gives_the_same_text_and_rows(spark, tmp_path):
    """The in-memory dict, the export file given to run(path) and the
    mongodb_py DataSource's export mode give each document the same
    raw_json text (key order kept), and the same data and audit rows
    after enrich_collection + split_enriched."""
    from etl_pipeline_from_mongo_json_to_postgre_spark import pipeline
    from etl_pipeline_from_mongo_json_to_postgre_spark.operators.transform import (
        enrich_collection,
        split_enriched,
    )

    path = stage_to_json(SAME_DOCS, str(tmp_path / "export.json"))
    by_dict = pipeline.run(spark, SAME_DOCS, SAME_MAPPING, ingestion_date="2024-06-01")
    by_file = pipeline.run(spark, path, SAME_MAPPING, ingestion_date="2024-06-01")
    register(spark)
    scanned = spark.read.format("mongodb_py").option("path", path).load()

    def rows(df):
        return sorted(df.collect(), key=repr)

    for coll, docs in SAME_DOCS.items():
        raw = scanned.where(scanned.collection == coll).select("raw_json")
        assert sorted(r.raw_json for r in raw.collect()) == sorted(json.dumps(d) for d in docs)
        plan = by_dict.plans[coll]
        enriched = enrich_collection(raw, plan, ingested_at=by_dict.ingestion_date)
        data, audit = split_enriched(
            enriched, plan, object_status=by_dict.object_statuses[plan.target_table])
        want_data = rows(by_dict.data_frames[coll])
        assert sorted(r["raw_json"] for r in want_data) == sorted(json.dumps(d) for d in docs)
        assert rows(by_file.data_frames[coll]) == want_data
        assert rows(data) == want_data
        want_audit = rows(by_dict.audit_df.where(f"source_collection = '{coll}'"))
        assert len(want_audit) == len(docs)
        assert rows(by_file.audit_df.where(f"source_collection = '{coll}'")) == want_audit
        assert rows(audit) == want_audit


def test_plan_object_id_ranges_splits_keyspace():
    lo = "64b000000000000000000000"
    hi = "64b000000000000000000fff"
    ranges = plan_object_id_ranges(lo, hi, 4)
    assert len(ranges) == 4
    assert ranges[0][0] is None and ranges[-1][1] is None
    # contiguous: each hi == next lo, hex-ordered, 24 chars
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi == b_lo
        assert len(a_hi) == 24
        if a_lo is not None:
            assert a_lo < a_hi
    # all interior cuts inside [lo, hi]
    for _, cut in ranges[:-1]:
        assert lo <= cut <= hi


def test_plan_object_id_ranges_degenerate():
    assert plan_object_id_ranges("a" * 24, "a" * 24, 8) == [(None, None)]
    assert plan_object_id_ranges("0" * 24, "f" * 24, 1) == [(None, None)]
    with pytest.raises(InputError):
        plan_object_id_ranges("f" * 24, "0" * 24, 2)


def test_live_mode_without_pymongo_raises_actionable_error():
    reader = MongoDataSourceReader(
        {"mode": "live", "database": "db", "collection": "c"}
    )
    with pytest.raises(InputError, match="pymongo"):
        reader.partitions()


def test_s3_scan_staging_is_capped_and_streams(spark, sf_dir, tmp_path, monkeypatch):
    """The export-fixture staging inside the registered
    s3_mongo_datasource_scan query never collects the documents table to
    the driver: executors write it, through the one staging routine,
    under a hard cap that raises rather than truncates."""
    import inspect
    import os
    import shutil

    from etl_pipeline_from_mongo_json_to_postgre_spark.sources import mongo_datasource as mds

    src = inspect.getsource(mds.s3_mongo_datasource_scan) + inspect.getsource(mds._write_export)
    for collect in ("toPandas", "toLocalIterator", ".collect("):
        assert collect not in src
    assert "stage_documents" in src
    assert mds.MAX_EXPORT_FIXTURE_ROWS >= 100_000

    # cap enforcement on a copy of the table that has no stage yet: shrink
    # the cap below the table size and expect a loud failure, never a
    # truncated fixture
    table = os.path.join(sf_dir, "documents.parquet")
    copy = shutil.copytree if os.path.isdir(table) else shutil.copy
    (tmp_path / "sf").mkdir()
    copy(table, tmp_path / "sf" / "documents.parquet")
    monkeypatch.setattr(mds, "MAX_EXPORT_FIXTURE_ROWS", 3)
    with pytest.raises(ValueError, match="refusing to stage"):
        mds.s3_mongo_datasource_scan(spark, str(tmp_path / "sf"))
