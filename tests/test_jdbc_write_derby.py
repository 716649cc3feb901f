"""End-to-end `df.write.jdbc` through sinks/jdbc.write_table against a
REAL JDBC database (VERDICT r5 task 4).

No pgjdbc jar ships in this container and there is no network egress to
vendor one (DNS to repo1.maven.org fails), so the Postgres JDBC write
can never run here — but Apache Derby's embedded driver DOES ship
inside the Spark distribution (pyspark/jars/derby-10.16.1.1.jar). This
module drives the EXACT production code path — jdbc_options ->
df.write.format("jdbc") partition-parallel save, plus
execute_statements' driver-side DDL connection — against embedded
Derby. Combined with tests/test_live_postgres.py (real Postgres 15:
generated DDL, COPY load, server-side census), every line of the sink
is now exercised against a real database; the only thing never run is
the pgjdbc driver binary itself, which no test we can write here could
reach. Reference behavior matched: etl_pipeline/postgres_loader.py
63-99 (batched load replacing per-row INSERT+COMMIT).
"""

import datetime
import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from etl_pipeline_from_mongo_json_to_postgre_spark import pipeline
from etl_pipeline_from_mongo_json_to_postgre_spark.errors import LoadError
from etl_pipeline_from_mongo_json_to_postgre_spark.sinks import jdbc
from tests.test_pipeline_run import INPUT, MAPPING, _job_ids


def _derby_config(tmp_path, name="etl_live"):
    return {
        "url": f"jdbc:derby:{tmp_path}/{name};create=true",
        "driver": "org.apache.derby.jdbc.EmbeddedDriver",
        "user": "app",
    }


@pytest.fixture()
def db(tmp_path, spark):
    # keep derby.log out of the repo root
    spark._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", str(tmp_path / "derby.log")
    )
    cfg = _derby_config(tmp_path)
    jdbc.execute_statements(spark, cfg, ['CREATE SCHEMA "public"'])
    return cfg


def test_write_table_roundtrip(spark, db):
    """The real Spark JDBC write: partition-parallel batched save into a
    table Spark creates, read back over the same driver."""
    rows = [
        (1, 'Ann "The Hammer"', datetime.date(2024, 1, 15)),
        (2, "Bob", None),
        (3, "Cy", datetime.date(2024, 3, 1)),
    ]
    df = spark.createDataFrame(rows, "customer_id int, name string, signup_date date")
    jdbc.write_table(df.repartition(4), "customers", db, mode="append",
                     batchsize=2, num_partitions=2)

    back = (
        spark.read.format("jdbc")
        .option("url", db["url"])
        .option("driver", db["driver"])
        .option("dbtable", jdbc.qualified_identifier("customers"))
        .load()
    )
    got = sorted((r.customer_id, r.name, r.signup_date) for r in back.collect())
    assert got == sorted(rows)


def test_write_table_append_accumulates_and_overwrite_resets(spark, db):
    df = spark.createDataFrame([(10, "Zed", None)],
                               "customer_id int, name string, signup_date date")
    jdbc.write_table(df, "modes_t", db, mode="append")
    jdbc.write_table(df, "modes_t", db, mode="append")
    read = lambda: (  # noqa: E731
        spark.read.format("jdbc")
        .option("url", db["url"]).option("driver", db["driver"])
        .option("dbtable", jdbc.qualified_identifier("modes_t")).load().count()
    )
    assert read() == 2
    jdbc.write_table(df, "modes_t", db, mode="overwrite")
    assert read() == 1


def test_execute_statements_ddl_and_constraint(spark, db):
    """Driver-side DDL connection (the bootstrap path) on a real DB, and
    a NOT NULL constraint the write path then trips over -> LoadError."""
    jdbc.execute_statements(spark, db, [
        'CREATE TABLE "public"."strict_t" ("id" INT NOT NULL, "name" VARCHAR(20))',
    ])
    bad = spark.createDataFrame([(None, "x")], "id int, name string")
    with pytest.raises(LoadError, match="strict_t"):
        jdbc.write_table(bad, "strict_t", db, mode="append")
    ok = spark.createDataFrame([(7, "y")], "id int, name string")
    jdbc.write_table(ok, "strict_t", db, mode="append")
    back = (
        spark.read.format("jdbc")
        .option("url", db["url"]).option("driver", db["driver"])
        .option("dbtable", jdbc.qualified_identifier("strict_t")).load()
    )
    assert [(r.id, r.name) for r in back.collect()] == [(7, "y")]


def _read_jdbc(spark, db, table):
    return (
        spark.read.format("jdbc")
        .option("url", db["url"]).option("driver", db["driver"])
        .option("dbtable", jdbc.qualified_identifier(table)).load()
    )


def test_write_table_runs_a_grouped_frame_once(spark, db):
    """write_table starts the jobs a plain write of the same grouped
    frame starts: its shuffle map stage is not run a second time to
    count partitions."""
    grouped = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).agg(
        F.sort_array(F.collect_list("id")).alias("ids"))
    before = _job_ids(spark)
    grouped.write.format("noop").mode("overwrite").save()
    plain = len(_job_ids(spark) - before)
    before = _job_ids(spark)
    jdbc.write_table(grouped, "grouped_t", db)
    assert len(_job_ids(spark) - before) == plain
    assert _read_jdbc(spark, db, "grouped_t").count() == 7


def _normalized(row):
    """A row's values, comparable across sinks: decimals without their
    scale (Derby caps it at 5), lists as tuples."""
    def norm(v):
        if isinstance(v, Decimal):
            return v.normalize()
        if isinstance(v, list):
            return tuple(v)
        return v
    return tuple(norm(v) for v in row)


# parquet output -> the table the JDBC sink writes it to
SINK_OUTPUTS = {
    "data_customers.parquet": "public.customers",
    "data_orders.parquet": "public.orders",
    "ingestion_audit.parquet": "doc_audit.ingestion_audit",
    "missing_attributes_report.parquet": "doc_audit.missing_attributes_report",
    "missing_collections_report.parquet": "doc_audit.missing_collections_report",
}


def _derby_ddl(monkeypatch):
    """Derby has no JSONB or TIMESTAMPTZ: the sink's DDL bootstrap only
    creates its schemas, and the writes create the tables."""
    execute = jdbc.execute_statements
    monkeypatch.setattr(jdbc, "execute_statements", lambda spark, cfg, stmts: execute(
        spark, cfg, [s.replace(" IF NOT EXISTS", "") for s in stmts
                     if s.startswith("CREATE SCHEMA")]))


def test_parquet_and_jdbc_sinks_write_the_same_outputs(spark, db, tmp_path, monkeypatch):
    """One run written by both sinks: the same outputs, holding the
    same rows; summary() after the JDBC write starts no Spark job and
    equals the summary of an unwritten run."""
    _derby_ddl(monkeypatch)
    tables = []
    write_table = jdbc.write_table
    monkeypatch.setattr(jdbc, "write_table", lambda df, table, cfg, **kw: (
        tables.append(table), write_table(df, table, cfg, **kw)))

    res = pipeline.run(spark, INPUT, MAPPING, app_config={"database": db},
                       ingestion_date="2024-06-01")
    pipeline.write_run_jdbc(spark, res)
    before = _job_ids(spark)
    summary = res.summary()
    assert _job_ids(spark) == before
    assert summary == pipeline.run(spark, INPUT, MAPPING, ingestion_date="2024-06-01").summary()

    out = tmp_path / "out"
    pipeline.write_run_parquet(res, str(out))
    assert sorted(os.listdir(out)) == sorted(SINK_OUTPUTS)
    assert sorted(tables) == sorted(SINK_OUTPUTS.values())
    for name, table in SINK_OUTPUTS.items():
        want = spark.read.parquet(str(out / name))
        got = _read_jdbc(spark, db, table).select(*want.columns)
        if "missing_columns" in got.columns:
            got = got.withColumn("missing_columns",
                                 F.from_json("missing_columns", "array<string>"))
        assert sorted(map(_normalized, got.collect()), key=repr) == sorted(
            map(_normalized, want.collect()), key=repr), name


def test_jdbc_options_derby_omits_pg_only_properties(tmp_path):
    opts = jdbc.jdbc_options(_derby_config(tmp_path), "t")
    assert opts["driver"] == "org.apache.derby.jdbc.EmbeddedDriver"
    assert opts["url"].startswith("jdbc:derby:")
    assert "rewriteBatchedInserts" not in opts
    pg = jdbc.jdbc_options({"name": "db"}, "t")
    assert pg["rewriteBatchedInserts"] == "true"
    assert pg["url"].startswith("jdbc:postgresql://")


def test_stream_load_foreachbatch_into_real_jdbc(spark, db, tmp_path, sf_dir, monkeypatch):
    """The streaming incremental-load path END-TO-END against a real
    JDBC database: events stream -> mapping transform per micro-batch
    -> jdbc_batch_writer (the production foreachBatch writer: the run's
    sink, whose DDL bootstrap creates the audit schema, then data +
    audit appends). Then a second availableNow run on the SAME
    checkpoint must append nothing — the checkpoint, not luck, is what
    makes replays safe."""
    from pyspark.sql import functions as F

    from etl_pipeline_from_mongo_json_to_postgre_spark.config import validate_app_config
    from etl_pipeline_from_mongo_json_to_postgre_spark.plans.mapping_plan import (
        MappingPlan,
    )
    from etl_pipeline_from_mongo_json_to_postgre_spark.streaming.harness import (
        watch_table,
    )
    from etl_pipeline_from_mongo_json_to_postgre_spark.streaming.load import (
        jdbc_batch_writer,
        stream_load,
    )

    _derby_ddl(monkeypatch)
    plan = MappingPlan.from_config(
        "events_stream",
        {
            "target_table": "public.events_loaded",
            "object_id_attribute": "event_id",
            "mappings": {
                "event_id": {"column": "event_id", "type": "bigint"},
                "user_id": {"column": "user_id", "type": "bigint"},
                "event_type": {"column": "event_type", "type": "text"},
                "value": {"column": "amount", "type": "double"},
            },
        },
    )
    stream = watch_table(spark, sf_dir, "events").select(
        F.to_json(F.struct("event_id", "user_id", "event_type", "value"))
        .alias("raw_json")
    )
    ckpt = str(tmp_path / "ckpt")
    writer = jdbc_batch_writer(spark, plan, validate_app_config({"database": db}))
    q = stream_load(stream, plan, writer,
                    checkpoint_dir=ckpt, ingested_at="2024-06-01 00:00:00")
    q.awaitTermination(120)

    def count(table):
        return (
            spark.read.format("jdbc")
            .option("url", db["url"]).option("driver", db["driver"])
            .option("dbtable", jdbc.qualified_identifier(table))
            .load().count()
        )

    from etl_pipeline_from_mongo_json_to_postgre_spark.sources.parquet import (
        load_table,
    )

    expect = load_table(spark, sf_dir, "events").count()
    got_data = count("events_loaded")
    got_audit = count("doc_audit.ingestion_audit")
    assert got_data == expect
    assert got_audit == expect

    # replay on the same checkpoint: availableNow finds no new data
    q2 = stream_load(stream, plan, writer,
                     checkpoint_dir=ckpt, ingested_at="2024-06-01 00:00:00")
    q2.awaitTermination(120)
    assert count("events_loaded") == expect, "checkpoint replay re-appended"
    assert count("doc_audit.ingestion_audit") == expect
