"""End-to-end orchestration tests (reference etl_pipeline/pipeline.py:21-291).

Full run: multi-collection input + mapping config + schema.sql ->
per-collection data frames, unified audit frame, object statuses,
report frames, KPI summary — golden expectations from the reference's
documented control flow.
"""

import datetime
import json
import os
import re
import subprocess
import sys
import threading
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from etl_pipeline_from_mongo_json_to_postgre_spark import pipeline
from etl_pipeline_from_mongo_json_to_postgre_spark.errors import ConfigError
from etl_pipeline_from_mongo_json_to_postgre_spark.storage import physical_plan

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

MAPPING = {
    "collections": {
        "customers": {
            "target_table": "public.customers",
            "object_id_attribute": "customer_id",
            "mappings": {
                "customer_id": {"column": "customer_id", "type": "integer"},
                "name": {"column": "name", "type": "text"},
                "signup_date": {"column": "signup_date", "type": "date"},
            },
        },
        "orders": {
            "target_table": "public.orders",
            "object_id_attribute": "order_id",
            "mappings": {
                "order_id": {"column": "order_id", "type": "integer"},
                "amount": {"column": "amount", "type": "numeric"},
            },
        },
        "products": {   # expected but absent from input
            "target_table": "public.products",
            "object_id_attribute": "sku",
            "mappings": {"sku": {"column": "sku", "type": "text"}},
        },
    }
}

INPUT = {
    "customers": [
        {"customer_id": 1, "name": "Ann", "signup_date": "2024-01-15"},
        {"customer_id": 2, "name": "Bob", "signup_date": "bad-date"},
        {"customer_id": 3, "name": "Cy"},
    ],
    "orders": [
        {"order_id": 10, "amount": "12.50"},
        {"order_id": 11, "amount": "oops"},
    ],
    "ghosts": [{"x": 1}],   # in input but unmapped
}


@pytest.fixture(scope="module")
def schema_sql(tmp_path_factory):
    p = tmp_path_factory.mktemp("sql") / "schema.sql"
    p.write_text(
        "CREATE TABLE IF NOT EXISTS public.customers (id TEXT);\n"
        "CREATE TABLE IF NOT EXISTS public.legacy_widgets (id TEXT);\n"
        "CREATE TABLE IF NOT EXISTS doc_audit.ingestion_audit (id TEXT);\n"
    )
    return str(p)


@pytest.fixture(scope="module")
def result(spark, schema_sql):
    app = {"runtime": {"schema_path": schema_sql}}
    return pipeline.run(
        spark, INPUT, MAPPING, app_config=app,
        existing_tables={"public.orders"}, ingestion_date="2024-06-01",
    )


def test_object_statuses(result):
    # orders exists -> ALREADY_EXISTS; customers in schema.sql but not DB
    # -> MISSING; legacy_widgets absent from input -> MISSING
    assert result.object_statuses["public.orders"] == "ALREADY_EXISTS"
    assert result.object_statuses["public.customers"] == "MISSING"
    assert result.object_statuses["public.legacy_widgets"] == "MISSING"
    assert result.missing_tables_db == {"public.customers"}
    assert result.missing_tables_input == {"public.legacy_widgets"}


def test_collection_coverage(result):
    # reference pipeline.py:57-65 and :128-137
    assert result.missing_collections == {"products"}
    assert result.unmapped_collections == {"ghosts"}
    assert set(result.data_frames) == {"customers", "orders"}


def test_audit_frame_contents(result):
    audit = result.audit_df.collect()
    by_name = {}
    for r in audit:
        by_name.setdefault(r["object_name"], []).append(r)
    # 3 customer docs + 2 order docs + 1 missing-table row
    assert len(audit) == 6
    assert len(by_name["public.customers"]) == 3
    missing_row = by_name["public.legacy_widgets"][0]
    assert missing_row["object_status"] == "MISSING"
    assert missing_row["processing_status"] == "missing"
    assert missing_row["object_id"] is None
    # cast failures become status=error rows, not exceptions
    statuses = {r["object_id"]: r["processing_status"]
                for r in by_name["public.orders"]}
    assert statuses == {"10": "success", "11": "error"}
    # absent attribute tracked per-document
    cust = {r["object_id"]: r["missing_columns"] for r in by_name["public.customers"]}
    assert cust["3"] == ["signup_date"]
    assert cust["1"] == []


def test_data_frames_values(result):
    orders = {r["order_id"]: r for r in result.data_frames["orders"].collect()}
    assert float(orders[10]["amount"]) == 12.50
    assert orders[11]["amount"] is None and orders[11]["status"] == "error"
    assert json.loads(orders[11]["raw_json"])["amount"] == "oops"


def test_reports(spark, result):
    mc = {(r["object_name"], r["object_status"])
          for r in result.missing_collections_report(spark).collect()}
    assert ("public.legacy_widgets", "MISSING") in mc
    assert ("public.orders", "ALREADY_EXISTS") in mc
    ma = {r["object_name"]: r["missing_columns"]
          for r in result.missing_attributes_report().collect()}
    assert ma == {"public.customers": ["signup_date"]}


def test_summary(result):
    s = result.summary()
    assert s["total_documents"] == 5
    assert s["documents_with_errors"] == 2
    assert s["successful_documents"] == 3
    assert s["documents_with_missing_columns"] == 1
    assert s["missing_collections"] == ["products"]
    assert s["unmapped_collections"] == ["ghosts"]
    assert s["per_collection"]["customers"]["processed"] == 3
    text = pipeline.format_summary(s)
    assert "Total documents: 5" in text and "ghosts" in text


def _parquet_values(spark, path):
    """(simple schema, sorted rows) of a parquet output; timestamps are
    rendered by the session (UTC) so the rows do not depend on the
    host's time zone."""
    df = spark.read.parquet(path)
    rows = df.select([
        F.col(f.name).cast("string") if f.dataType.typeName() == "timestamp"
        else F.col(f.name)
        for f in df.schema.fields
    ]).collect()
    return df.schema.simpleString(), sorted((tuple(r) for r in rows), key=repr)


TS = "2024-06-01 00:00:00"
GOLDEN_SUMMARY = {
    "ingestion_date": "2024-06-01",
    "total_documents": 5,
    "successful_documents": 3,
    "documents_with_errors": 2,
    "documents_with_missing_columns": 1,
    "insert_failures": 0,
    "missing_collections": ["products"],
    "unmapped_collections": ["ghosts"],
    "missing_tables_input": ["public.legacy_widgets"],
    "missing_tables_db": ["public.customers"],
    "object_statuses": {"public.customers": "MISSING",
                        "public.legacy_widgets": "MISSING",
                        "public.orders": "ALREADY_EXISTS"},
    "per_collection": {"customers": {"processed": 3, "errors": 1},
                       "orders": {"processed": 2, "errors": 1}},
    "rename_maps": {},
}
GOLDEN_PARQUET = {
    "data_customers.parquet": (
        "struct<customer_id:int,name:string,signup_date:date,raw_json:string,"
        "ingested_at:timestamp,source_collection:string,status:string>",
        [
            (1, "Ann", datetime.date(2024, 1, 15),
             '{"customer_id": 1, "name": "Ann", "signup_date": "2024-01-15"}',
             TS, "customers", "success"),
            (2, "Bob", None,
             '{"customer_id": 2, "name": "Bob", "signup_date": "bad-date"}',
             TS, "customers", "error"),
            (3, "Cy", None, '{"customer_id": 3, "name": "Cy"}',
             TS, "customers", "success"),
        ],
    ),
    "data_orders.parquet": (
        "struct<order_id:int,amount:decimal(38,18),raw_json:string,"
        "ingested_at:timestamp,source_collection:string,status:string>",
        [
            (10, Decimal("12.500000000000000000"),
             '{"order_id": 10, "amount": "12.50"}', TS, "orders", "success"),
            (11, None, '{"order_id": 11, "amount": "oops"}', TS, "orders", "error"),
        ],
    ),
    "ingestion_audit.parquet": (
        "struct<ingested_at:timestamp,object_id:string,source_collection:string,"
        "object_name:string,object_status:string,missing_columns:array<string>,"
        "processing_status:string>",
        [
            (TS, "1", "customers", "public.customers", "MISSING", [], "success"),
            (TS, "10", "orders", "public.orders", "ALREADY_EXISTS", [], "success"),
            (TS, "11", "orders", "public.orders", "ALREADY_EXISTS", [], "error"),
            (TS, "2", "customers", "public.customers", "MISSING", [], "error"),
            (TS, "3", "customers", "public.customers", "MISSING",
             ["signup_date"], "success"),
            (TS, None, None, "public.legacy_widgets", "MISSING", [], "missing"),
        ],
    ),
    "missing_attributes_report.parquet": (
        "struct<ingestion_date:date,object_name:string,missing_columns:array<string>>",
        [(datetime.date(2024, 6, 1), "public.customers", ["signup_date"])],
    ),
    "missing_collections_report.parquet": (
        "struct<ingestion_date:date,object_name:string,object_status:string>",
        [(datetime.date(2024, 6, 1), "public.customers", "MISSING"),
         (datetime.date(2024, 6, 1), "public.legacy_widgets", "MISSING"),
         (datetime.date(2024, 6, 1), "public.orders", "ALREADY_EXISTS")],
    ),
}


def test_golden_run_outputs(spark, result, tmp_path):
    """Every value a run reports and writes, as literals: the summary
    dict and every row of every parquet output."""
    out = str(tmp_path / "out")
    pipeline.write_run_parquet(result, out)
    assert result.summary() == GOLDEN_SUMMARY
    assert sorted(os.listdir(out)) == sorted(GOLDEN_PARQUET)
    for name, want in GOLDEN_PARQUET.items():
        assert _parquet_values(spark, os.path.join(out, name)) == want, name


def test_run_parses_each_document_once(result):
    """The sinks and the reports read the run's stored enriched frames:
    none of their physical plans parses a document again."""
    frames = [result.audit_df, result.missing_attributes_report(),
              *result.data_frames.values()]
    for df in frames:
        assert "from_json" not in physical_plan(df), physical_plan(df)


def test_run_with_empty_collection(spark, tmp_path):
    """A mapped collection given as [] writes an empty data table with
    the mapped columns, adds no audit rows, and leaves the totals those
    of the other collections."""
    mapping = {"collections": {
        **MAPPING["collections"],
        "refunds": {
            "target_table": "public.refunds",
            "object_id_attribute": "refund_id",
            "mappings": {
                "refund_id": {"column": "refund_id", "type": "integer"},
                "reason": {"column": "reason", "type": "text"},
            },
        },
    }}
    res = pipeline.run(spark, {**INPUT, "refunds": []}, mapping,
                       ingestion_date="2024-06-01")
    out = str(tmp_path / "out")
    pipeline.write_run_parquet(res, out)

    refunds = spark.read.parquet(os.path.join(out, "data_refunds.parquet"))
    assert refunds.count() == 0
    assert refunds.columns == ["refund_id", "reason", "raw_json", "ingested_at",
                               "source_collection", "status"]
    audit = spark.read.parquet(os.path.join(out, "ingestion_audit.parquet"))
    assert audit.where(F.col("source_collection") == "refunds").count() == 0
    assert audit.count() == 5

    s = res.summary()
    assert s["per_collection"] == GOLDEN_SUMMARY["per_collection"]
    for key in ("total_documents", "successful_documents",
                "documents_with_errors", "documents_with_missing_columns"):
        assert s[key] == GOLDEN_SUMMARY[key], key
    assert s["object_statuses"]["public.refunds"] == "NEW"


def test_load_schema_tables(schema_sql):
    tables = pipeline.load_schema_tables(schema_sql)
    assert tables == {"public.customers", "public.legacy_widgets",
                      "doc_audit.ingestion_audit"}
    assert pipeline.load_schema_tables("/nonexistent.sql") == set()


def test_invalid_mapping_raises(spark):
    with pytest.raises(ConfigError):
        pipeline.run(spark, INPUT, {"collections": {
            "c": {"target_table": "t", "mappings": {"a": {"column": "x"}}}
        }})


def _cli(*argv, tz="UTC"):
    """Run the CLI as users do: its own process, hence its own session
    (in-process, getOrCreate would hand it this suite's session)."""
    env = {**os.environ, "TZ": tz, "SPARK_GRAFT_CPUS": "2",
           "SPARK_DRIVER_MEMORY": "1g"}
    return subprocess.run(
        [sys.executable, "-m",
         "etl_pipeline_from_mongo_json_to_postgre_spark.cli", *argv],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600)


def test_cli_end_to_end(spark, tmp_path):
    """The CLI under a New York host clock writes exactly what an
    in-process run on the suite's session writes: a zone-offset
    timestamp just before local midnight keeps its UTC date, and
    ingested_at is the UTC ingestion date."""
    events = {"events": {
        "target_table": "public.events",
        "object_id_attribute": "event_id",
        "mappings": {
            "event_id": {"column": "event_id", "type": "integer"},
            "day": {"column": "day", "type": "date"},
            "at": {"column": "at", "type": "datetime"},
            "local_at": {"column": "local_at", "type": "datetime"},
        },
    }}
    mapping_cfg = {"collections": {**MAPPING["collections"], **events}}
    doc = {"events": [{"event_id": 1, "day": "2024-03-09T23:30:00-0500",
                       "at": "2024-03-09T23:30:00-0500",
                       "local_at": "2024-03-09T23:30:00"}]}
    inp = tmp_path / "input.json"
    inp.write_text(json.dumps({**INPUT, **doc}))
    mapping = tmp_path / "mapping.json"
    mapping.write_text(json.dumps(mapping_cfg))
    out, ref = tmp_path / "out", tmp_path / "ref"

    proc = _cli("--input", str(inp), "--mapping-config", str(mapping),
                "--output-dir", str(out), tz="America/New_York")
    assert proc.returncode == 0, proc.stderr[-2000:]
    pipeline.write_run_parquet(
        pipeline.run(spark, str(inp), str(mapping)), str(ref))

    names = sorted(os.listdir(ref))
    assert sorted(os.listdir(out)) == names
    assert "data_events.parquet" in names
    for name in names:
        assert _parquet_values(spark, str(out / name)) == _parquet_values(
            spark, str(ref / name)), name
    day = spark.read.parquet(str(out / "data_events.parquet")).first()["day"]
    assert str(day) == "2024-03-10"
    audit = spark.read.parquet(str(out / "ingestion_audit.parquet"))
    assert audit.count() == 6  # no schema.sql -> no missing-table row


def test_cli_error_exit(tmp_path):
    proc = _cli("--input", str(tmp_path / "missing.json"),
                "--mapping-config", str(tmp_path / "missing.yaml"))
    assert proc.returncode == 1
    assert "Pipeline error" in proc.stderr


def test_write_with_metrics_single_pass(spark, tmp_path):
    """Observation-based write: metrics collected during the write job
    must equal a direct aggregate, and the written table must be
    complete — one scan produces both."""
    from pyspark.sql import functions as F

    from etl_pipeline_from_mongo_json_to_postgre_spark.pipeline import (
        write_with_metrics,
    )

    df = spark.createDataFrame(
        [(i, "error" if i % 7 == 0 else "success") for i in range(1000)],
        "id bigint, status string",
    )
    out = str(tmp_path / "observed")
    got = write_with_metrics(
        df, out,
        {"n_errors": F.count(F.when(F.col("status") == "error", 1)),
         "max_id": F.max("id")},
    )
    assert got["rows_written"] == 1000
    assert got["n_errors"] == len([i for i in range(1000) if i % 7 == 0])
    assert got["max_id"] == 999
    assert spark.read.parquet(out).count() == 1000


def test_rename_map_reaches_run_report(spark):
    """VERDICT r3 task 7: with on_duplicate='rename' opted in, the
    applied renames are surfaced through RunResult.rename_maps and the
    summary report instead of being silently discarded (the reference's
    UI editor shows them to the user — ui/mapping_editor.py:527-554)."""
    mapping = {
        "collections": {
            "widgets": {
                "target_table": "public.widgets",
                "object_id_attribute": "a",
                "mappings": {
                    # 'raw_json' collides with the reserved audit column
                    "a": {"column": "raw_json", "type": "text"},
                    "b": {"column": "b", "type": "text"},
                },
            }
        }
    }
    input_data = {"widgets": [{"a": "x", "b": "y"}]}

    with pytest.raises(ConfigError):
        pipeline.run(spark, input_data, mapping, ingestion_date="2024-06-01")

    res = pipeline.run(spark, input_data, mapping,
                       ingestion_date="2024-06-01", on_duplicate="rename")
    assert res.rename_maps == {"widgets": {"raw_json": "raw_json1"}}
    assert res.summary()["rename_maps"] == {"widgets": {"raw_json": "raw_json1"}}
    assert "raw_json1" in res.data_frames["widgets"].columns


TICKETS = {
    "collections": {
        "tickets": {
            "target_table": "public.tickets",
            "object_id_attribute": "id",
            "mappings": {
                "id": {"column": "id", "type": "integer"},
                # 'status' collides with the reserved business column
                "state": {"column": "status", "type": "text"},
            },
        }
    }
}


def _stub_jdbc(monkeypatch):
    """Record the JDBC sink's DDL statements and written frames; each
    write runs its frame (to a noop sink), as a real write would."""
    from etl_pipeline_from_mongo_json_to_postgre_spark.sinks import jdbc

    statements, writes = [], {}
    monkeypatch.setattr(jdbc, "execute_statements",
                        lambda spark, db, stmts: statements.extend(stmts))

    def write_table(df, table, db, **kw):
        writes[table] = df
        df.write.format("noop").mode("overwrite").save()

    monkeypatch.setattr(jdbc, "write_table", write_table)
    return statements, writes


def test_write_run_jdbc_uses_the_runs_plans(spark, monkeypatch):
    """The JDBC sink builds its DDL from the plans run() built —
    renamed columns included — with the app's runtime.type_mappings,
    and writes the run's frames as they are (array columns are left
    to write_table to serialize)."""
    statements, writes = _stub_jdbc(monkeypatch)
    app = {"runtime": {"type_mappings": {"integer": "BIGINT",
                                         "text": "VARCHAR(32)"}}}
    res = pipeline.run(spark, {"tickets": [{"id": 1, "state": "open"}]},
                       TICKETS, app_config=app, ingestion_date="2024-06-01",
                       on_duplicate="rename")
    pipeline.write_run_jdbc(spark, res)

    ddl = [s for s in statements if '"public"."tickets"' in s]
    assert len(ddl) == 1
    assert '"id" BIGINT' in ddl[0]
    assert '"status1" VARCHAR(32)' in ddl[0]
    assert {"id", "status1", "status"} <= set(writes["public.tickets"].columns)
    audit = writes["doc_audit.ingestion_audit"]
    assert dict(audit.dtypes)["missing_columns"] == "array<string>"


def test_write_run_jdbc_creates_the_configured_audit_table(spark, monkeypatch):
    """The DDL bootstrap creates the audit table the app config names,
    with its schema, and the audit frame is written to that table."""
    from etl_pipeline_from_mongo_json_to_postgre_spark.sinks import jdbc

    statements, writes = _stub_jdbc(monkeypatch)
    res = pipeline.run(spark, INPUT, MAPPING, ingestion_date="2024-06-01",
                       app_config={"audit": {"audit_table": "audit_x.runs"}})
    pipeline.write_run_jdbc(spark, res)

    assert 'CREATE SCHEMA IF NOT EXISTS "audit_x"' in statements
    assert [s for s in statements if '"audit_x"."runs"' in s][0].startswith(
        'CREATE TABLE IF NOT EXISTS "audit_x"."runs" ("ingested_at"')
    assert writes["audit_x.runs"].count() == 5
    assert "doc_audit.ingestion_audit" not in writes
    created = {s.split()[5] for s in statements if s.startswith("CREATE TABLE")}
    assert created == {jdbc.qualified_identifier(t) for t in writes}


def test_run_checks_mapping_types_against_app_type_mappings(spark):
    """A mapping type the app's runtime.type_mappings omit is a
    ConfigError at run(), as in the reference's config loader."""
    app = {"runtime": {"type_mappings": {"integer": "BIGINT",
                                         "string": "TEXT"}}}
    mapping = {"collections": {"events": {
        "target_table": "public.events",
        "mappings": {"day": {"column": "day", "type": "date"}},
    }}}
    with pytest.raises(ConfigError, match="unsupported type 'date'"):
        pipeline.run(spark, {"events": [{"day": "2024-01-01"}]}, mapping,
                     app_config=app)


def _job_ids(spark):
    """Ids of every job the driver's status store knows, once the
    listener bus has delivered all pending events."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    it = jsc.statusStore().jobsList(None).iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next().jobId())
    return ids


def test_pooled_jobs_carry_the_callers_job_group(spark, tmp_path):
    """Every job run() and write_run_parquet start, those of their pool
    threads included, belongs to the caller's job group; summary()
    after the write starts no job and equals the summary of a fresh,
    unwritten run of the same input."""
    sc = spark.sparkContext
    group = "pipeline-run-under-test"
    before = _job_ids(spark)
    sc.setJobGroup(group, "run + write_run_parquet")
    try:
        res = pipeline.run(spark, INPUT, MAPPING, ingestion_date="2024-06-01")
        pipeline.write_run_parquet(res, str(tmp_path / "out"))
    finally:
        sc._jsc.clearJobGroup()
    started = _job_ids(spark) - before
    assert len(started) >= len(res.data_frames) + 2  # data writes, audit, report
    assert started == set(sc.statusTracker().getJobIdsForGroup(group))

    before = _job_ids(spark)
    written = res.summary()
    assert _job_ids(spark) == before
    fresh = pipeline.run(spark, INPUT, MAPPING, ingestion_date="2024-06-01")
    assert written == fresh.summary()


# five collections given out of order: carts is empty, deliveries
# holds a document whose mapped attributes are an object and a list
WIDE_MAPPING = {"collections": {
    "events": {"target_table": "public.events", "object_id_attribute": "event_id",
               "mappings": {"event_id": {"column": "event_id", "type": "integer"},
                            "kind": {"column": "kind", "type": "text"}}},
    "accounts": {"target_table": "public.accounts", "object_id_attribute": "account_id",
                 "mappings": {"account_id": {"column": "account_id", "type": "integer"},
                              "opened": {"column": "opened", "type": "date"}}},
    "deliveries": {"target_table": "public.deliveries", "object_id_attribute": "delivery_id",
                   "mappings": {"delivery_id": {"column": "delivery_id", "type": "integer"},
                                "eta": {"column": "eta", "type": "date"}}},
    "carts": {"target_table": "public.carts", "object_id_attribute": "cart_id",
              "mappings": {"cart_id": {"column": "cart_id", "type": "integer"}}},
    "books": {"target_table": "public.books", "object_id_attribute": "isbn",
              "mappings": {"isbn": {"column": "isbn", "type": "text"},
                           "price": {"column": "price", "type": "numeric"}}},
}}
WIDE_INPUT = {
    "events": [{"event_id": 7, "kind": "click"}, {"event_id": 8}],
    "deliveries": [{"delivery_id": 20, "eta": "2024-02-01"},
                   {"delivery_id": {"id": 21}, "eta": [2024, 2, 2]}],
    "carts": [],
    "books": [{"isbn": "978-1", "price": "9.99"}],
    "accounts": [{"account_id": 1, "opened": "2023-12-31"},
                 {"account_id": 2, "opened": "2024-13-01"}],
}
WIDE_BAD_ID = '{"id":21}'  # the object_id attribute is an object
WIDE_SUMMARY_COUNTS = {
    "total_documents": 7,
    "successful_documents": 5,
    "documents_with_errors": 2,
    "documents_with_missing_columns": 1,
    "per_collection": {"accounts": {"processed": 2, "errors": 1},
                       "books": {"processed": 1, "errors": 0},
                       "deliveries": {"processed": 2, "errors": 1},
                       "events": {"processed": 2, "errors": 0}},
}
WIDE_PARQUET = {
    "data_accounts.parquet": (
        "struct<account_id:int,opened:date,raw_json:string,"
        "ingested_at:timestamp,source_collection:string,status:string>",
        [(1, datetime.date(2023, 12, 31), '{"account_id": 1, "opened": "2023-12-31"}',
          TS, "accounts", "success"),
         (2, None, '{"account_id": 2, "opened": "2024-13-01"}', TS, "accounts", "error")],
    ),
    "data_books.parquet": (
        "struct<isbn:string,price:decimal(38,18),raw_json:string,"
        "ingested_at:timestamp,source_collection:string,status:string>",
        [("978-1", Decimal("9.990000000000000000"), '{"isbn": "978-1", "price": "9.99"}',
          TS, "books", "success")],
    ),
    "data_carts.parquet": (
        "struct<cart_id:int,raw_json:string,ingested_at:timestamp,"
        "source_collection:string,status:string>",
        [],
    ),
    "data_deliveries.parquet": (
        "struct<delivery_id:int,eta:date,raw_json:string,"
        "ingested_at:timestamp,source_collection:string,status:string>",
        [(20, datetime.date(2024, 2, 1), '{"delivery_id": 20, "eta": "2024-02-01"}',
          TS, "deliveries", "success"),
         (None, None, '{"delivery_id": {"id": 21}, "eta": [2024, 2, 2]}',
          TS, "deliveries", "error")],
    ),
    "data_events.parquet": (
        "struct<event_id:int,kind:string,raw_json:string,"
        "ingested_at:timestamp,source_collection:string,status:string>",
        [(7, "click", '{"event_id": 7, "kind": "click"}', TS, "events", "success"),
         (8, None, '{"event_id": 8}', TS, "events", "success")],
    ),
    "ingestion_audit.parquet": (
        GOLDEN_PARQUET["ingestion_audit.parquet"][0],
        [(TS, "1", "accounts", "public.accounts", "NEW", [], "success"),
         (TS, "2", "accounts", "public.accounts", "NEW", [], "error"),
         (TS, "20", "deliveries", "public.deliveries", "NEW", [], "success"),
         (TS, "7", "events", "public.events", "NEW", [], "success"),
         (TS, "8", "events", "public.events", "NEW", ["kind"], "success"),
         (TS, "978-1", "books", "public.books", "NEW", [], "success"),
         (TS, WIDE_BAD_ID, "deliveries", "public.deliveries", "NEW", [], "error")],
    ),
    "missing_attributes_report.parquet": (
        GOLDEN_PARQUET["missing_attributes_report.parquet"][0],
        [(datetime.date(2024, 6, 1), "public.events", ["kind"])],
    ),
    "missing_collections_report.parquet": (
        GOLDEN_PARQUET["missing_collections_report.parquet"][0],
        [(datetime.date(2024, 6, 1), f"public.{c}", "NEW")
         for c in ("accounts", "books", "carts", "deliveries", "events")],
    ),
}


def test_wide_run_keeps_collection_order_and_golden_outputs(spark, tmp_path):
    """A run over five collections — one empty, one with a malformed
    document — keeps data_frames and the audit union in sorted
    collection order, and writes and reports the same values as a
    sequential run would: literal rows and counts."""
    res = pipeline.run(spark, WIDE_INPUT, WIDE_MAPPING, ingestion_date="2024-06-01")
    assert list(res.data_frames) == ["accounts", "books", "carts", "deliveries", "events"]
    assert [(r["source_collection"], r["object_id"]) for r in res.audit_df.collect()] == [
        ("accounts", "1"), ("accounts", "2"), ("books", "978-1"),
        ("deliveries", "20"), ("deliveries", WIDE_BAD_ID), ("events", "7"), ("events", "8"),
    ]
    out = str(tmp_path / "out")
    pipeline.write_run_parquet(res, out)
    assert sorted(os.listdir(out)) == sorted(WIDE_PARQUET)
    for name, want in WIDE_PARQUET.items():
        assert _parquet_values(spark, os.path.join(out, name)) == want, name
    s = res.summary()
    assert {k: s[k] for k in WIDE_SUMMARY_COUNTS} == WIDE_SUMMARY_COUNTS
    assert s["object_statuses"] == {f"public.{c}": "NEW" for c in sorted(WIDE_INPUT)}


def test_pooled_failure_propagates_with_its_type(spark, tmp_path):
    """An error inside one collection's pooled data write leaves
    write_run_parquet with the type a direct write of that frame
    raises, and no pool thread is left alive."""
    import threading

    res = pipeline.run(spark, WIDE_INPUT, WIDE_MAPPING, ingestion_date="2024-06-01")
    res.data_frames["deliveries"] = res.data_frames["deliveries"].withColumn(
        "eta", F.raise_error(F.lit("unwritable delivery")))
    with pytest.raises(Exception) as direct:
        res.data_frames["deliveries"].write.parquet(str(tmp_path / "direct"))
    with pytest.raises(Exception) as pooled:
        pipeline.write_run_parquet(res, str(tmp_path / "out"))
    assert type(pooled.value) is type(direct.value)
    assert "unwritable delivery" in str(pooled.value)
    assert res.audit_counts is None
    assert not [t for t in threading.enumerate() if t.name.startswith("etl-collection")]


def test_stored_enriched_blocks_can_spill(spark, tmp_path):
    """After write_run_parquet every stored RDD that backs a run's
    enriched frames has a storage level that may use disk: concurrent
    writes keep several collections' blocks in flight at once. Every
    non-empty collection has stored blocks; the empty one stores none."""
    res = pipeline.run(spark, WIDE_INPUT, WIDE_MAPPING, ingestion_date="2024-06-01")
    pipeline.write_run_parquet(res, str(tmp_path / "out"))
    backing = {}  # checkpointed RDD id -> collection
    for coll, df in res.data_frames.items():
        leaves = df._jdf.queryExecution().logical().collectLeaves()
        leaf = leaves.apply(0)
        assert leaves.length() == 1 and leaf.getClass().getSimpleName() == "LogicalRDD"
        backing[leaf.rdd().id()] = coll
    stored = {info.id(): info for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
              if info.id() in backing}
    assert sorted(backing[i] for i in stored) == ["accounts", "books", "deliveries", "events"]
    assert all(info.storageLevel().useDisk() for info in stored.values())


def test_write_run_jdbc_puts_reports_in_the_configured_audit_schema(spark, monkeypatch):
    """Both report tables go to the configured audit schema, and the DDL
    bootstrap creates them there."""
    from etl_pipeline_from_mongo_json_to_postgre_spark.sinks import jdbc

    statements, writes = _stub_jdbc(monkeypatch)
    res = pipeline.run(spark, INPUT, MAPPING, ingestion_date="2024-06-01",
                       app_config={"audit": {"audit_schema": "audit_x"}})
    pipeline.write_run_jdbc(spark, res)

    assert 'CREATE SCHEMA IF NOT EXISTS "audit_x"' in statements
    for report in ("missing_attributes_report", "missing_collections_report"):
        assert f"audit_x.{report}" in writes
        assert f"doc_audit.{report}" not in writes
    created = {s.split()[5] for s in statements if s.startswith("CREATE TABLE")}
    assert created == {jdbc.qualified_identifier(t) for t in writes}


def test_missing_table_audit_rows_are_a_local_scan(spark, tmp_path):
    """Tables schema.sql names but the input lacks each get one audit
    row, read from a local table scan rather than a Python RDD; a
    mapped table keeps its collection."""
    schema = tmp_path / "schema.sql"
    schema.write_text("CREATE TABLE IF NOT EXISTS public.products (id TEXT);\n"
                      "CREATE TABLE IF NOT EXISTS public.legacy_widgets (id TEXT);\n")
    res = pipeline.run(spark, INPUT, MAPPING, ingestion_date="2024-06-01",
                       app_config={"runtime": {"schema_path": str(schema)}})
    missing = res.audit_df.where(F.col("processing_status") == "missing")
    assert sorted((tuple(r) for r in missing.select(
        F.col("ingested_at").cast("string"), *missing.columns[1:]).collect()), key=repr) == [
        (TS, None, "products", "public.products", "MISSING", [], "missing"),
        (TS, None, None, "public.legacy_widgets", "MISSING", [], "missing"),
    ]
    # the only RDD scans left are the collections' stored enriched rows
    plan = physical_plan(res.audit_df)
    assert "LocalTableScan" in plan, plan
    assert plan.count("Scan ExistingRDD") == len(res.data_frames) == 2, plan


def test_unmapped_only_run_has_an_empty_audit_frame(spark, tmp_path):
    """Input whose collections are all unmapped: an empty audit frame
    with the usual schema, which the sinks write and summary() counts."""
    res = pipeline.run(spark, {"ghosts": INPUT["ghosts"]}, MAPPING,
                       ingestion_date="2024-06-01")
    assert res.data_frames == {} and res.unmapped_collections == {"ghosts"}
    assert res.audit_df.schema.simpleString() == GOLDEN_PARQUET["ingestion_audit.parquet"][0]
    pipeline.write_run_parquet(res, str(tmp_path / "out"))
    assert _parquet_values(spark, str(tmp_path / "out" / "ingestion_audit.parquet")) == (
        GOLDEN_PARQUET["ingestion_audit.parquet"][0], [])
    assert res.summary()["total_documents"] == 0


DEGENERATE_DOCS = [{"id": 1, "val": 5}, {"id": 2, "val": "bad"}, {"id": 3}]

# case -> (surface, target of "val", raw_json_column, on_duplicate,
#          the column "val" lands in, or ConfigError)
DEGENERATE = {
    "raw_json_column_doc": ("run", "val", "doc", "error", "val"),
    "target_missing_columns": ("run", "missing_columns", None, "error", "missing_columns"),
    "target_transform_errors": ("run", "transform_errors", None, "error", "transform_errors"),
    "target__object_id": ("run", "_object_id", None, "error", "_object_id"),
    "target___keys": ("run", "__keys", None, "error", "__keys"),
    "target___v": ("run", "__v", None, "error", "__v"),
    "target_dotted": ("run", "a.b", None, "error", "a.b"),
    "raw_json_column_status": ("run", "val", "status", "error", ConfigError),
    "raw_json_column_status_rename": ("run", "val", "status", "rename", ConfigError),
    "target_is_raw_column": ("run", "doc", "doc", "error", ConfigError),
    "target_is_raw_column_rename": ("run", "doc", "doc", "rename", "doc1"),
    "stream_load_raw_json_column_doc": ("stream", "val", "doc", "error", "val"),
    "cli_raw_json_column_status": ("cli", "val", "status", "error", ConfigError),
}
# Names that need quoting in SQL text: each is both the source key of
# "val" in the documents and its target.
QUOTED_NAMES = {"apostrophe": "it's", "backslash": "a\\b", "backtick": "a`b",
                "dots": "a.b.c", "percent": "50%_x", "non_ascii": "prénom_日本"}
DEGENERATE.update({f"quoted_{case}": ("run", name, None, "error", name)
                   for case, name in QUOTED_NAMES.items()})


@pytest.mark.parametrize("case", list(DEGENERATE))
def test_degenerate_mappings(spark, monkeypatch, tmp_path, case):
    """Every mapping the validator accepts runs, in run() with either
    sink and in stream_load: a custom raw_json_column holds the document
    text, and a target named like one of the plan's working columns
    gets its values while the audit rows stay as they are, as does a
    source key and target that SQL text must quote (quote, backslash,
    backtick, dots, percent sign, non-ASCII). A mapping it rejects is a
    ConfigError, and the CLI exits 1 on it."""
    from etl_pipeline_from_mongo_json_to_postgre_spark.config import validate_mapping_config
    from etl_pipeline_from_mongo_json_to_postgre_spark.plans.mapping_plan import MappingPlan
    from etl_pipeline_from_mongo_json_to_postgre_spark.streaming.harness import staged_stream
    from etl_pipeline_from_mongo_json_to_postgre_spark.streaming.load import stream_load

    surface, target, raw, on_duplicate, want = DEGENERATE[case]
    key = target if case.startswith("quoted_") else "val"
    docs = [{key if k == "val" else k: v for k, v in d.items()} for d in DEGENERATE_DOCS]
    spec = {"target_table": "public.c", "object_id_attribute": "id",
            "mappings": {"id": {"column": "id", "type": "integer"},
                         key: {"column": target, "type": "integer"}}}
    if raw is not None:
        spec["raw_json_column"] = raw
    mapping, inp, raw = {"collections": {"c": spec}}, {"c": docs}, raw or "raw_json"

    if surface == "cli":
        (tmp_path / "in.json").write_text(json.dumps(inp))
        (tmp_path / "mapping.json").write_text(json.dumps(mapping))
        proc = _cli("--input", str(tmp_path / "in.json"),
                    "--mapping-config", str(tmp_path / "mapping.json"),
                    "--output-dir", str(tmp_path / "out"))
        assert proc.returncode == 1 and "Pipeline error" in proc.stderr, proc.stderr[-2000:]
        return
    if want is ConfigError:
        with pytest.raises(ConfigError):
            pipeline.run(spark, inp, mapping, on_duplicate=on_duplicate)
        return
    if surface == "stream":
        plan = MappingPlan.from_config("c", validate_mapping_config(mapping)["c"])
        data, audit = [], []

        def writer(data_df, audit_df, batch_id):
            data.extend(data_df.collect())
            audit.extend(audit_df.collect())

        raw_docs = spark.createDataFrame([(json.dumps(d),) for d in docs], "raw_json string")
        with staged_stream(spark, raw_docs, "raw_json string") as (stream, scratch):
            stream_load(stream, plan, writer, os.path.join(scratch, "ckpt"),
                        ingested_at=TS).awaitTermination()
    else:
        res = pipeline.run(spark, inp, mapping, ingestion_date="2024-06-01",
                           on_duplicate=on_duplicate)
        out = tmp_path / "out"
        pipeline.write_run_parquet(res, str(out))
        data = spark.read.parquet(str(out / "data_c.parquet")).collect()
        audit = spark.read.parquet(str(out / "ingestion_audit.parquet")).collect()
        statements, _ = _stub_jdbc(monkeypatch)
        pipeline.write_run_jdbc(spark, res)
        ddl = [s for s in statements if '"public"."c"' in s][0]
        assert f'"{raw}" JSONB NOT NULL' in ddl and f'"{want}" INTEGER' in ddl, ddl

    assert sorted((r["id"], r[want], json.loads(r[raw]), r["status"]) for r in data) == [
        (1, 5, docs[0], "success"),
        (2, None, docs[1], "error"),
        (3, None, docs[2], "success"),
    ]
    assert sorted((r["object_id"], r["processing_status"], list(r["missing_columns"]))
                  for r in audit) == [
        ("1", "success", []), ("2", "error", []), ("3", "success", [want])]


# case -> (surface, runtime overrides of the app config ("{tmp}" is the
# test's scratch directory), the text the ConfigError names or the
# date the document's "2024-01-15'" parses to)
RUNTIME_CASES = {
    "date_format_unknown_directive": ("run", {"date_formats": ["%Q-%m"]}, "'%Q-%m'"),
    "date_format_empty": ("run", {"date_formats": ["%Y-%m-%d", ""]}, "''"),
    "date_format_not_a_string": ("run", {"date_formats": [20240115]}, "20240115"),
    "date_format_stray_percent": ("run", {"date_formats": ["%Y-%m-%d%"]}, "'%Y-%m-%d%'"),
    "date_format_quote_parses": ("run", {"date_formats": ["%Y-%m-%d'"]},
                                 datetime.date(2024, 1, 15)),
    "schema_path_directory": ("run", {"schema_path": "{tmp}"}, "{tmp}"),
    "schema_path_not_utf8": ("run", {"schema_path": "{tmp}/schema.sql"}, "{tmp}/schema.sql"),
    "schema_path_missing": ("run", {"schema_path": "{tmp}/absent.sql",
                                    "date_formats": ["%Y-%m-%d'"]}, datetime.date(2024, 1, 15)),
    "cli_date_format_unknown_directive": ("cli", {"date_formats": ["%Q-%m"]}, "'%Q-%m'"),
    "cli_schema_path_directory": ("cli", {"schema_path": "{tmp}"}, "{tmp}"),
}


@pytest.mark.parametrize("case", list(RUNTIME_CASES))
def test_runtime_config_errors_name_the_value(spark, tmp_path, case):
    """A runtime.date_formats entry that could never match (not a
    non-empty string, an unknown directive, or one that does not parse
    its own rendering) and a schema_path that is a directory or not
    UTF-8 text are ConfigErrors naming the value, in run() and in the
    CLI (exit 1, "Pipeline error"). A literal quote in a format is text,
    and a missing schema_path means no schema tables."""
    surface, runtime, want = RUNTIME_CASES[case]

    def fill(value):
        return value.replace("{tmp}", str(tmp_path)) if isinstance(value, str) else value

    app, want = {"runtime": {k: fill(v) for k, v in runtime.items()}}, fill(want)
    (tmp_path / "schema.sql").write_bytes(b"CREATE TABLE IF NOT EXISTS caf\xe9 (id INT);")
    mapping = {"collections": {"c": {
        "target_table": "public.c", "object_id_attribute": "id",
        "mappings": {"id": {"column": "id", "type": "integer"},
                     "day": {"column": "day", "type": "date"}}}}}
    inp = {"c": [{"id": 1, "day": "2024-01-15'"}]}

    if surface == "cli":
        for name, cfg in (("in.json", inp), ("mapping.json", mapping), ("app.json", app)):
            (tmp_path / name).write_text(json.dumps(cfg))
        proc = _cli("--input", str(tmp_path / "in.json"),
                    "--mapping-config", str(tmp_path / "mapping.json"),
                    "--app-config", str(tmp_path / "app.json"),
                    "--output-dir", str(tmp_path / "out"))
        assert proc.returncode == 1 and "Pipeline error" in proc.stderr, proc.stderr[-2000:]
        assert want in proc.stderr
        return
    if isinstance(want, str):
        with pytest.raises(ConfigError, match=re.escape(want)):
            pipeline.run(spark, inp, mapping, app)
        return
    res = pipeline.run(spark, inp, mapping, app)
    assert [(r["day"], r["status"]) for r in res.data_frames["c"].collect()] == [
        (want, "success")]


def test_plan_building_py4j_traffic_is_flat(spark, monkeypatch):
    """Building MappingPlan.apply for a fresh plan sends as many py4j
    commands for 40 attributes as for 2: the plan is SQL text, one
    string per stage. Only this thread's commands count (py4j releases
    collected proxies from a finalizer thread)."""
    from py4j.clientserver import ClientServerConnection

    from etl_pipeline_from_mongo_json_to_postgre_spark.plans.mapping_plan import MappingPlan

    sent = []
    send = ClientServerConnection.send_command

    def counted(conn, command):
        sent.append(threading.get_ident())
        return send(conn, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    df = spark.createDataFrame([('{"a0": "1"}',)], "raw_json string")
    types = ("date", "integer", "datetime", "text", "boolean", "numeric")

    def commands(width):
        plan = MappingPlan.from_config(f"w{width}", {
            "target_table": "t", "object_id_attribute": "a0",
            "mappings": {f"a{i}_{width}": {"column": f"c{i}", "type": types[i % len(types)]}
                         for i in range(width)}})
        start = len(sent)
        plan.apply(df)
        return sum(t == threading.get_ident() for t in sent[start:])

    commands(3)  # first-call lookups of JVM classes
    assert commands(2) == commands(40)
