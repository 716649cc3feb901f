"""JDBC Postgres sink + DDL bootstrap (reference K1-K6, SURVEY §2.2).

The reference inserts one row per INSERT with a COMMIT per document
(etl_pipeline/postgres_loader.py:63-77, etl_pipeline/pipeline.py:265-266)
— the defining anti-pattern this engine replaces. Here every table write
is a partition-parallel batched `df.write.jdbc` (K1/K2/K6); DDL
bootstrap (K3/K4/K5: CREATE TABLE / SCHEMA, audit-schema init; the
database must exist) is generated driver-side with the same
injection-safe identifier quoting psycopg2's sql.Identifier provides
(postgres_loader.py:68-76), executed over a single driver JDBC
connection.

Scale notes (100 TB target):
- writes are per-partition transactions; `num_partitions` bounds the
  Postgres connections of one write (default 32 — one per local core;
  on a cluster size it to the DB's connection budget, not the
  executor count). A run's writes go concurrently, so the run as a
  whole holds at most one connection per task slot.
- `batchsize` 10_000 amortizes network round-trips; `rewriteBatchedInserts`
  turns executeBatch into multi-row INSERTs server-side.
- `stringtype=unspecified` lets Postgres re-parse strings into JSONB /
  TIMESTAMPTZ columns, preserving the reference's psycopg2 Json()
  behavior (postgres_loader.py:171-174) without a custom dialect.

No pgjdbc jar ships with the test environment, so the Postgres JDBC
write itself never runs in the suite. Every line of this sink still
runs against real databases: `write_table`/`execute_statements`
against embedded Derby, whose driver ships with Spark
(tests/test_jdbc_write_derby.py), and the Postgres-specific surface
(DDL grammar, IF NOT EXISTS, JSONB coercion, batched load shape, audit
census) against a live Postgres 15 via COPY (tests/test_live_postgres.py).
"""

from __future__ import annotations

import re
from typing import Any, Callable, Iterable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

from ..config.defaults import AUDIT_SCHEMA, AUDIT_TABLE, BUSINESS_COLUMNS
from ..errors import ConfigError, LoadError
from ..functions.casts import DEFAULT_TYPE_MAPPINGS
from ..plans.mapping_plan import MappingPlan

# ---------------------------------------------------------------------------
# Identifier handling (parity with psycopg2 sql.Identifier,
# reference postgres_loader.py:68-76 / schema_utils.py:24-26)
# ---------------------------------------------------------------------------


def quote_ident(name: str) -> str:
    """Double-quote a SQL identifier, escaping embedded quotes.

    Mirrors psycopg2 ``sql.Identifier`` (the reference's injection
    safety, postgres_loader.py:68-76): any name becomes a safe quoted
    identifier; NUL bytes are rejected outright.
    """
    if not name:
        raise LoadError("Identifier must be non-empty.")
    if "\x00" in name:
        raise LoadError("Identifier contains NUL byte.")
    return '"' + name.replace('"', '""') + '"'


def split_table_name(table_name: str, default_schema: str = "public") -> tuple[str, str]:
    """``[schema.]table`` -> (schema, table), lowercased
    (reference schema_utils.py:24-26, postgres_loader.py:177-181). The
    package's one parser of table names: the config validator,
    ``normalize_table_name`` and the DDL all go through it, so a name
    the validator accepts is one the sink can create."""
    normalized = table_name.strip().lower()
    if not normalized:
        raise LoadError("Table name must be non-empty.")
    if "." in normalized:
        schema, _, table = normalized.partition(".")
        if not schema or not table:
            raise LoadError(f"Invalid table name: {table_name!r}")
        return schema, table
    return default_schema, normalized


def qualified_identifier(table_name: str, default_schema: str = "public") -> str:
    schema, table = split_table_name(table_name, default_schema)
    return f"{quote_ident(schema)}.{quote_ident(table)}"


# ---------------------------------------------------------------------------
# DDL generation (K3/K4/K5)
# ---------------------------------------------------------------------------

_SQL_TYPE_RE = re.compile(r"^[A-Za-z][A-Za-z0-9 _()\[\],]*$")


def _checked_sql_type(sql_type: str) -> str:
    """SQL types come from config (runtime.type_mappings), not user data,
    but validate shape anyway — they are interpolated unquoted."""
    if not _SQL_TYPE_RE.match(sql_type):
        raise ConfigError(f"Suspicious SQL type in type_mappings: {sql_type!r}")
    return sql_type


def create_table_ddl(table_name: str, columns: Sequence[Mapping[str, Any]]) -> str:
    """CREATE TABLE IF NOT EXISTS from ``[{name, type, not_null}]``
    (reference postgres_loader.py:79-99)."""
    if not columns:
        raise LoadError("Cannot create table without columns.")
    defs = []
    for col in columns:
        piece = f"{quote_ident(col['name'])} {_checked_sql_type(col['type'])}"
        if col.get("not_null"):
            piece += " NOT NULL"
        defs.append(piece)
    return (
        f"CREATE TABLE IF NOT EXISTS {qualified_identifier(table_name)} "
        f"({', '.join(defs)})"
    )


def create_schema_ddl(schema_name: str) -> str:
    """Reference postgres_loader.py:101-107."""
    if not schema_name:
        raise LoadError("Schema name is required.")
    return f"CREATE SCHEMA IF NOT EXISTS {quote_ident(schema_name.lower())}"


def table_columns_from_plan(
    plan: MappingPlan,
    type_mappings: Mapping[str, str] | None = None,
) -> list[dict[str, Any]]:
    """Destination-table column list from a MappingPlan: mapped columns
    nullable, the raw_json_column JSONB NOT NULL, business columns NOT
    NULL; duplicate names rejected (reference schema_manager.py:5-43)."""
    tm = {k.lower(): v for k, v in (type_mappings or DEFAULT_TYPE_MAPPINGS).items()}
    columns: list[dict[str, Any]] = []
    seen: set[str] = set()

    def add(name: str, sql_type: str, not_null: bool) -> None:
        if name in seen:
            raise ConfigError(f"Duplicate column name detected: {name}")
        columns.append({"name": name, "type": sql_type, "not_null": not_null})
        seen.add(name)

    for attr in plan.attributes:
        if attr.logical_type not in tm:
            raise ConfigError(
                f"Missing SQL type mapping for '{attr.logical_type}' in runtime.type_mappings."
            )
        add(attr.column, tm[attr.logical_type], not_null=False)
    add(plan.raw_json_column, "JSONB", not_null=True)
    for name, sql_type in zip(BUSINESS_COLUMNS, ("TIMESTAMPTZ", "TEXT", "TEXT"), strict=True):
        add(name, sql_type, not_null=True)
    return columns


def audit_bootstrap_ddl(schema: str = AUDIT_SCHEMA, audit_table: str = AUDIT_TABLE) -> list[str]:
    """Audit schema (and ``audit_table``'s, when another) + the audit
    table and the two report tables in ``schema``
    (reference sql/schema.sql:23-45, etl_pipeline/pipeline.py:311-338)."""
    schemas = dict.fromkeys([schema.lower(), split_table_name(audit_table)[0]])
    return [create_schema_ddl(s) for s in schemas] + [
        create_table_ddl(audit_table, [
            {"name": "ingested_at", "type": "TIMESTAMP WITH TIME ZONE", "not_null": True},
            {"name": "object_id", "type": "TEXT"},
            {"name": "source_collection", "type": "TEXT"},
            {"name": "object_name", "type": "TEXT", "not_null": True},
            {"name": "object_status", "type": "TEXT", "not_null": True},
            {"name": "missing_columns", "type": "JSONB"},
            {"name": "processing_status", "type": "TEXT", "not_null": True},
        ]),
        create_table_ddl(f"{schema}.missing_attributes_report", [
            {"name": "ingestion_date", "type": "DATE", "not_null": True},
            {"name": "object_name", "type": "TEXT", "not_null": True},
            {"name": "missing_columns", "type": "JSONB"},
        ]),
        create_table_ddl(f"{schema}.missing_collections_report", [
            {"name": "ingestion_date", "type": "DATE", "not_null": True},
            {"name": "object_name", "type": "TEXT", "not_null": True},
            {"name": "object_status", "type": "TEXT", "not_null": True},
        ]),
    ]


# ---------------------------------------------------------------------------
# Connection options / writes (K1/K2/K6)
# ---------------------------------------------------------------------------


def jdbc_url(db_config: Mapping[str, Any]) -> str:
    """jdbc:postgresql URL from the reference's database config block
    (config/app_config.yaml database section). ``stringtype=unspecified``
    makes Postgres coerce strings into JSONB/TIMESTAMPTZ columns —
    the JDBC equivalent of psycopg2's Json() adapter.

    A literal ``url`` key wins: the sink is dialect-agnostic Spark JDBC
    underneath, so any JDBC database (Derby, MySQL, ...) can be targeted
    by passing its URL + ``driver`` directly — also how the test
    container proves the write path with the in-distribution Derby
    driver while pgjdbc is absent (tests/test_jdbc_write_derby.py)."""
    if db_config.get("url"):
        return str(db_config["url"])
    host = db_config.get("host", "localhost")
    port = db_config.get("port", 5432)
    name = db_config.get("name")
    if not name:
        raise ConfigError("database.name is required for a JDBC URL.")
    params = ["stringtype=unspecified"]
    sslmode = db_config.get("sslmode")
    if sslmode:
        params.append(f"sslmode={sslmode}")
    return f"jdbc:postgresql://{host}:{port}/{name}?{'&'.join(params)}"


def jdbc_options(
    db_config: Mapping[str, Any],
    table_name: str,
    batchsize: int = 10_000,
) -> dict[str, str]:
    driver = str(db_config.get("driver", "org.postgresql.Driver"))
    opts = {
        "url": jdbc_url(db_config),
        "dbtable": qualified_identifier(table_name),
        "driver": driver,
        "user": str(db_config.get("user", "")),
        "batchsize": str(batchsize),
        "isolationLevel": "READ_COMMITTED",
    }
    if driver == "org.postgresql.Driver":
        # pgjdbc-only connection property (multi-row INSERT rewrite);
        # other drivers reject unknown properties rather than ignore them
        opts["rewriteBatchedInserts"] = "true"
    password = db_config.get("password")
    if password:
        opts["password"] = str(password)
    return opts


def write_table(
    df: DataFrame,
    table_name: str,
    db_config: Mapping[str, Any],
    mode: str = "append",
    batchsize: int = 10_000,
    num_partitions: int | None = 32,
) -> None:
    """Partition-parallel batched JDBC write (replaces the reference's
    per-row INSERT + per-document COMMIT, postgres_loader.py:63-77).

    ``num_partitions`` caps the DB connections of this one write; each
    partition is one transaction, so a task failure rolls back only
    its batch — row-level isolation is handled *before* the write by
    routing invalid rows to the audit frame (SURVEY §7 hard-part #2).
    A pipeline run issues several writes at once (``write_run_jdbc``),
    so its open connections are bounded by the cluster's task slots,
    not by ``num_partitions``.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, MapType, StructType

    # JDBC has no mapping for array/map/struct columns ("Can't get JDBC
    # type for array<string>" — found by the Derby end-to-end streaming
    # test; pgjdbc fails identically). Serialize them to JSON strings:
    # with stringtype=unspecified Postgres re-parses them into JSONB,
    # exactly the reference's psycopg2 Json() adapter for
    # missing_columns (postgres_loader.py:171-174).
    for field in df.schema.fields:
        if isinstance(field.dataType, (ArrayType, MapType, StructType)):
            df = df.withColumn(field.name, F.to_json(field.name))
    if num_partitions is not None:
        # coalesce never raises the partition count; asking for the
        # count first would run a grouped frame's shuffle map stage twice
        df = df.coalesce(num_partitions)
    writer = df.write.format("jdbc").mode(mode)
    for key, value in jdbc_options(db_config, table_name, batchsize).items():
        writer = writer.option(key, value)
    try:
        writer.save()
    except Exception as exc:  # driver jar / server absent
        raise LoadError(f"JDBC write to {table_name} failed: {exc}") from exc


def execute_statements(
    spark: SparkSession,
    db_config: Mapping[str, Any],
    statements: Iterable[str],
) -> None:
    """Run DDL over a single driver-side JDBC connection (no Spark
    primitive for DDL — same approach as the reference's psycopg2
    cursor, postgres_loader.py:79-107)."""
    url = jdbc_url(db_config)
    props = spark._jvm.java.util.Properties()
    props.setProperty("user", str(db_config.get("user", "")))
    if db_config.get("password"):
        props.setProperty("password", str(db_config["password"]))
    try:
        conn = spark._jvm.java.sql.DriverManager.getConnection(url, props)
    except Exception as exc:
        raise LoadError(f"Cannot open JDBC connection to {url}: {exc}") from exc
    try:
        stmt = conn.createStatement()
        for statement in statements:
            stmt.execute(statement)
        stmt.close()
    finally:
        conn.close()


# ---------------------------------------------------------------------------
# The load contract of a batch run and of a stream
# ---------------------------------------------------------------------------


def sink(
    spark: SparkSession,
    app_config: Mapping[str, Any],
    plans: Sequence[MappingPlan],
) -> Callable[[DataFrame, str], None]:
    """Create every table a load writes, then return ``write(df, name)``,
    which appends ``df`` to the table of output ``name``:
    ``data_<collection>`` to that plan's ``target_table``,
    ``ingestion_audit`` to ``audit.audit_table``, and both reports to
    tables of their names in ``audit.audit_schema``. The DDL bootstrap
    (reference pipeline.py:94-101, :311-338) creates the audit schema
    and tables, and each plan's table with its columns (renamed ones
    included) typed by ``runtime.type_mappings`` of the validated
    ``app_config``. A batch run (``write_run_jdbc``) and a stream
    (``jdbc_batch_writer``) both load through it, so under the same
    configs they create and write the same tables."""
    db, audit = app_config["database"], app_config["audit"]
    tables = {f"data_{p.collection}": p.target_table for p in plans}
    tables["ingestion_audit"] = audit["audit_table"]
    for report in ("missing_attributes_report", "missing_collections_report"):
        tables[report] = f"{audit['audit_schema']}.{report}"
    type_mappings = app_config["runtime"]["type_mappings"]
    execute_statements(spark, db, audit_bootstrap_ddl(
        audit["audit_schema"], audit["audit_table"]) + [
        create_table_ddl(p.target_table, table_columns_from_plan(p, type_mappings))
        for p in plans
    ])
    return lambda df, name: write_table(df, tables[name], db)
