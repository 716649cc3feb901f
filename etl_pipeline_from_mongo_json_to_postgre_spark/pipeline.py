"""Run orchestration (reference etl_pipeline/pipeline.py:21-291).

The reference's run() is one thread interleaving transform + insert +
audit + commit per document. Here a run builds ONE declarative DAG per
collection — raw-JSON read -> MappingPlan projection -> (data_df,
audit_df) — plus a run-level audit union; execution happens when sinks
consume the frames (JDBC write, parquet write, or temp-view
registration), so Catalyst sees whole-collection plans and the
per-document loop disappears entirely. Each collection's enriched
frame (parsed, cast, stamped) is a non-eager local checkpoint: the
first sink that runs it stores its rows, and the data frame, the audit
part and every later sink or report read those rows, so each document
is parsed once per run. The stored blocks are freed when the
RunResult's frames are garbage-collected.

Concurrency: the collections of a run are independent, so the work of
each one runs on a driver thread pool (``_concurrently``). In ``run()``
that is the SQL-text projections, analysis and physical planning of its
enriched frame (``enrich_collection`` -> ``localCheckpoint`` ->
``split_enriched``); config validation, the static analysis and
``MappingPlan.from_config`` stay sequential, so config errors surface
before any thread starts. Both sinks write through one path,
``_write_run``: ``write_run_parquet`` and ``write_run_jdbc`` only map
each output name to a file or a table. The data frames are written
concurrently first: each data write is the first sink of its
collection and stores its enriched rows. Only then do the audit write
and both reports run (together), so they read stored rows and no
document is parsed twice; JDBC writes run concurrently the same way.
Pool threads inherit the caller's job group and local properties and
set no session conf.

Static-analysis phase parity (pipeline.py:43-92): expected-vs-input
collection diff, schema.sql table scan, table lookups, ingestion-date
stamp. Per-collection phase parity (:128-186): unmapped-collection
skip, NEW/MISSING/ALREADY_EXISTS object status, DDL-on-demand (JDBC
mode). Summary parity (reporting.py:36-95): the PipelineReport counters
are per-collection processed, error and missing-column counts, summed
on the driver for the run totals — no mutable driver-side
accumulation. Either sink collects them inside the audit write job
(an ``Observation``), so ``summary()`` after a write starts no Spark
job; before any write ``summary()`` runs the same counts as one
aggregation over the audit frame.

Failure-isolation semantics (SURVEY §7 hard-part #2): the reference
rolls back individual failed INSERTs and continues (pipeline.py:238-249).
Here rows never fail mid-write: cast errors are captured as columns
during the transform (status='error' + transform audit), and the data
write excludes nothing — matching the reference, which still inserts
rows whose *values* failed conversion (as NULLs) and only loses rows on
DB-level insert errors.
"""

from __future__ import annotations

import datetime as _dt
import os
import re
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial
from typing import Any, Callable, Mapping

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from .config.defaults import (
    OBJECT_STATUS_ALREADY_EXISTS,
    OBJECT_STATUS_MISSING,
    OBJECT_STATUS_NEW,
    STATUS_ERROR,
    STATUS_SUCCESS,
)
from .config.loader import (
    load_config,
    normalize_table_name,
    validate_app_config,
    validate_mapping_config,
)
from .errors import ConfigError
from .operators.transform import (
    enrich_collection,
    missing_table_audit_rows,
    split_enriched,
)
from .plans.mapping_plan import MappingPlan
from .sources.json_source import collections_to_raw_df, load_input_json


def load_schema_tables(schema_path: str) -> set[str]:
    """Regex scan of CREATE TABLE IF NOT EXISTS names in a schema.sql
    (reference etl_pipeline/schema_utils.py:8-21); no file, no tables.
    A path not readable as text (a directory, not UTF-8) is a ConfigError."""
    if not schema_path or not os.path.exists(schema_path):
        return set()
    try:
        with open(schema_path, "r", encoding="utf-8") as fh:
            content = fh.read()
    except (OSError, UnicodeDecodeError) as exc:
        raise ConfigError(f"runtime.schema_path {schema_path!r} cannot be read: {exc}") from None
    matches = re.findall(r"CREATE TABLE IF NOT EXISTS\s+(\S+)", content, re.IGNORECASE)
    return {normalize_table_name(m.strip().rstrip("(")) for m in matches}


def _concurrently(spark: SparkSession, thunks: Mapping[str, Callable[[], Any]]) -> dict[str, Any]:
    """Run independent thunks on a driver thread pool of
    min(len(thunks), defaultParallelism) workers; return their results
    by key, in sorted-key order. Each thunk carries the caller's job
    group, local properties and tags (``inheritable_thread_target``),
    so its Spark jobs are labelled like the caller's. The first failure
    in key order is re-raised as it is; pending thunks are cancelled,
    and no pool thread outlives the call."""
    names = sorted(thunks)
    if not names:
        return {}
    pool = ThreadPoolExecutor(min(len(names), spark.sparkContext.defaultParallelism),
                              thread_name_prefix="etl-collection")
    try:
        futures = {n: pool.submit(inheritable_thread_target(spark)(thunks[n])) for n in names}
        return {n: futures[n].result() for n in names}
    finally:
        pool.shutdown(wait=True, cancel_futures=True)


_COUNTERS = ("processed", "errors", "missing")


def _audit_counters(collections: list[str]) -> dict[str, Column]:
    """The run report's counters as aggregate Columns over the audit
    frame, ``<counter>_<i>`` for the i-th collection: documents
    processed, with errors, and with missing columns. Missing-TABLE
    audit rows (processing_status='missing', no document) count
    nowhere."""
    document = F.col("processing_status").isin(STATUS_SUCCESS, STATUS_ERROR)
    cols = {}
    for i, coll in enumerate(collections):
        mine = document & (F.col("source_collection") == coll)
        cols[f"processed_{i}"] = F.count(F.when(mine, 1))
        cols[f"errors_{i}"] = F.count(
            F.when(mine & (F.col("processing_status") == STATUS_ERROR), 1))
        cols[f"missing_{i}"] = F.count(F.when(mine & (F.size("missing_columns") > 0), 1))
    return cols


def _by_collection(collections: list[str], values: Mapping[str, int]) -> dict[str, dict[str, int]]:
    """collection -> {processed, errors, missing} from ``_audit_counters`` values."""
    return {c: {k: values[f"{k}_{i}"] for k in _COUNTERS} for i, c in enumerate(collections)}


@dataclass
class RunResult:
    """Everything the reference's PipelineReport + side effects carried,
    as DataFrames and metadata. Frames are lazy until a sink runs them;
    the first one stores each collection's transformed rows for the rest."""

    ingestion_date: str
    data_frames: dict[str, DataFrame]              # collection -> destination frame
    target_tables: dict[str, str]                  # collection -> target table
    audit_df: DataFrame                            # full run audit trail
    object_statuses: dict[str, str]                # object_name -> status
    plans: dict[str, MappingPlan]                  # collection -> the run's plan
    app_config: dict[str, Any]                     # validated app config
    missing_collections: set[str] = field(default_factory=set)
    unmapped_collections: set[str] = field(default_factory=set)
    missing_tables_input: set[str] = field(default_factory=set)
    missing_tables_db: set[str] = field(default_factory=set)
    # collection -> {original_column: renamed_column}, only when the
    # caller opted into on_duplicate="rename" and a collision actually
    # fired — the UI editor shows these renames to the user
    # (reference ui/mapping_editor.py:527-554); the backend run report
    # carries them so non-interactive callers see where data landed.
    rename_maps: dict[str, dict[str, str]] = field(default_factory=dict)
    # collection -> {processed, errors, missing}, observed by the audit
    # write of write_run_parquet or write_run_jdbc; None until one has run
    audit_counts: dict[str, dict[str, int]] | None = None

    def missing_collections_report(self, spark: SparkSession) -> DataFrame:
        """(ingestion_date, object_name, object_status) — reference
        ui/run_pipeline.py:413-421. Built from an Arrow table, a local
        table scan: writing it starts no Python worker."""
        import pyarrow as pa

        items = sorted(self.object_statuses.items())
        df = spark.createDataFrame(pa.table({
            "ingestion_date": pa.array([self.ingestion_date] * len(items), pa.string()),
            "object_name": pa.array([n for n, _ in items], pa.string()),
            "object_status": pa.array([s for _, s in items], pa.string()),
        }))
        return df.withColumn("ingestion_date", F.col("ingestion_date").cast("date"))

    def missing_attributes_report(self) -> DataFrame:
        """(ingestion_date, object_name, missing_columns) — the per-object
        union of missing-column sets (reference reporting.py:31-34 +
        ui/run_pipeline.py:424-433), derived from the audit frame with
        one partial-aggregated groupBy instead of driver mutation."""
        return (
            self.audit_df
            .groupBy("object_name")
            .agg(
                F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list("missing_columns")))
                ).alias("missing_columns")
            )
            .where(F.size("missing_columns") > 0)
            .select(
                F.lit(self.ingestion_date).cast("date").alias("ingestion_date"),
                "object_name",
                "missing_columns",
            )
        )

    def summary(self) -> dict[str, Any]:
        """KPI + per-collection metrics (reference reporting.py:36-95):
        per-collection counts, whose sums on the driver are the KPI
        totals. After either sink's write they are the counters its
        audit write observed (no Spark job); before any write one
        aggregation over the audit frame computes the same counters."""
        counts = self.audit_counts
        if counts is None:
            colls = sorted(self.data_frames)
            row = self.audit_df.agg(*[
                c.alias(n) for n, c in _audit_counters(colls).items()
            ]).first() if colls else {}
            counts = _by_collection(colls, row)
        total = sum(m["processed"] for m in counts.values())
        errors = sum(m["errors"] for m in counts.values())
        # an empty collection has no audit row, so no entry here
        per_collection = {
            c: {"processed": m["processed"], "errors": m["errors"]}
            for c, m in counts.items() if m["processed"]
        }
        return {
            "ingestion_date": self.ingestion_date,
            "total_documents": total,
            "successful_documents": total - errors,
            "documents_with_errors": errors,
            "documents_with_missing_columns": sum(m["missing"] for m in counts.values()),
            "insert_failures": 0,  # validate-before-write: see module docstring
            "missing_collections": sorted(self.missing_collections),
            "unmapped_collections": sorted(self.unmapped_collections),
            "missing_tables_input": sorted(self.missing_tables_input),
            "missing_tables_db": sorted(self.missing_tables_db),
            "object_statuses": dict(sorted(self.object_statuses.items())),
            "per_collection": per_collection,
            "rename_maps": {c: dict(m) for c, m in sorted(self.rename_maps.items())},
        }


def _resolve_config(config: str | Mapping | None, validator):
    if config is None:
        data = {}
    elif isinstance(config, str):
        data = load_config(config)
    else:
        data = dict(config)
    return validator(data)


def run(
    spark: SparkSession,
    input_data: str | Mapping[str, list],
    mapping_config: str | Mapping,
    app_config: str | Mapping | None = None,
    existing_tables: set[str] | None = None,
    ingestion_date: str | None = None,
    on_duplicate: str = "error",
) -> RunResult:
    """Plan a full pipeline run; returns lazy frames + metadata.

    ``input_data`` is a multi-collection JSON path or an in-memory
    ``{collection: [doc, ...]}`` dict. ``existing_tables`` stands in for
    the loader.table_exists probes (reference pipeline.py:145) — in JDBC
    mode pass the actual catalog state, tests pass sets directly.
    """
    app = _resolve_config(app_config, validate_app_config)
    runtime = app["runtime"]
    mapping = _resolve_config(
        mapping_config,
        lambda cfg: validate_mapping_config(
            cfg, runtime["type_mappings"], on_duplicate=on_duplicate),
    )
    audit_cfg = app["audit"]

    if isinstance(input_data, str):
        data = load_input_json(input_data)
    else:
        from .sources.json_source import validate_input_shape

        data = validate_input_shape(dict(input_data))

    # --- static analysis phase (reference pipeline.py:43-92) ---
    schema_tables = load_schema_tables(runtime.get("schema_path", ""))
    audit_schema = audit_cfg["audit_schema"].lower()
    audit_table = normalize_table_name(audit_cfg["audit_table"])
    schema_tables_no_audit = {
        t for t in schema_tables
        if t != audit_table and not t.startswith(audit_schema + ".")
    }

    collections_cfg = mapping  # validate_mapping_config returns the flat shape
    expected = set(collections_cfg)
    input_collections = set(data)
    missing_collections = expected - input_collections

    table_lookup: dict[str, str] = {}
    table_to_collection: dict[str, str] = {}
    for coll, spec in collections_cfg.items():
        norm = normalize_table_name(spec["target_table"])
        table_lookup[norm] = spec["target_table"]
        table_to_collection[norm] = coll

    input_tables = {
        normalize_table_name(collections_cfg[c]["target_table"])
        for c in input_collections if c in collections_cfg
    }
    missing_input_tables = schema_tables_no_audit - input_tables

    ing_date = ingestion_date or _dt.datetime.now(_dt.timezone.utc).date().isoformat()
    existing = {normalize_table_name(t) for t in (existing_tables or set())}

    # --- per-collection DAGs (reference pipeline.py:128-186) ---
    object_statuses: dict[str, str] = {}
    missing_tables_db: set[str] = set()
    unmapped: set[str] = set()
    target_tables: dict[str, str] = {}
    plans: dict[str, MappingPlan] = {}

    for table in sorted(missing_input_tables):
        object_statuses[table_lookup.get(table, table)] = OBJECT_STATUS_MISSING
    # the union starts from the missing-table rows, empty when none is
    # missing (an empty local relation the optimizer drops)
    audit_df = missing_table_audit_rows(
        spark,
        [table_lookup.get(t, t) for t in sorted(missing_input_tables)],
        {table_lookup.get(t, t): table_to_collection.get(t) for t in missing_input_tables},
        ingested_at=ing_date,
    )

    raw_frames = collections_to_raw_df(spark, data)
    for coll in sorted(input_collections):
        spec = collections_cfg.get(coll)
        if spec is None:
            unmapped.add(coll)
            continue
        target = spec["target_table"]
        norm = normalize_table_name(target)
        in_schema = norm in schema_tables_no_audit
        exists = norm in existing
        if exists:
            status = OBJECT_STATUS_ALREADY_EXISTS
        elif not in_schema:
            status = OBJECT_STATUS_NEW  # will be auto-created
        else:
            status = OBJECT_STATUS_MISSING
            missing_tables_db.add(target)
        object_statuses[target] = status
        target_tables[coll] = target
        plans[coll] = MappingPlan.from_config(
            coll, spec, date_formats=runtime.get("date_formats"))

    def build(coll: str) -> tuple[DataFrame, DataFrame]:
        # stored by the first sink that runs it; every later sink and
        # report reads the stored rows instead of parsing again
        enriched = enrich_collection(
            raw_frames[coll], plans[coll], ingested_at=ing_date
        ).localCheckpoint(eager=False)
        return split_enriched(enriched, plans[coll],
                              object_status=object_statuses[target_tables[coll]])

    built = _concurrently(spark, {c: partial(build, c) for c in plans})
    data_frames = {c: data_df for c, (data_df, _) in built.items()}
    for _, part in built.values():
        audit_df = audit_df.unionByName(part)

    return RunResult(
        ingestion_date=ing_date,
        data_frames=data_frames,
        target_tables=target_tables,
        audit_df=audit_df,
        object_statuses=object_statuses,
        plans=plans,
        app_config=app,
        missing_collections=missing_collections,
        unmapped_collections=unmapped,
        missing_tables_input={table_lookup.get(t, t) for t in missing_input_tables},
        missing_tables_db=missing_tables_db,
        rename_maps={
            c: spec["rename_map"] for c, spec in collections_cfg.items()
            if spec.get("rename_map")
        },
    )


def _observe(df: DataFrame, metrics: Mapping[str, Column]) -> tuple[DataFrame, Observation]:
    """``df`` observed by a new Observation of ``rows_written`` plus
    ``metrics`` (name -> aggregate Column): the aggregates ride the
    tasks of whatever action runs the returned frame."""
    obs = Observation("write_metrics")
    return df.observe(obs, F.count(F.lit(1)).alias("rows_written"),
                      *[c.alias(n) for n, c in metrics.items()]), obs


def _write_run(result: RunResult, write: Callable[[DataFrame, str], None]) -> None:
    """Write a run's outputs through ``write(df, name)``, which writes
    one named output in the sink's format: ``data_<collection>`` per
    collection, ``ingestion_audit``, ``missing_attributes_report`` and
    ``missing_collections_report``. The data writes run concurrently
    first, each storing its collection's enriched rows; then the audit
    write and both reports run together over the stored rows. The
    audit write's Observation sets ``result.audit_counts``; it is read
    only after that write returns, so a failed write raises as it is."""
    spark = result.audit_df.sparkSession
    _concurrently(spark, {c: partial(write, df, f"data_{c}")
                          for c, df in result.data_frames.items()})
    colls = sorted(result.data_frames)
    audit, obs = _observe(result.audit_df, _audit_counters(colls))

    def write_audit() -> dict:
        write(audit, "ingestion_audit")
        return obs.get

    done = _concurrently(spark, {
        "ingestion_audit": write_audit,
        "missing_attributes_report": partial(
            write, result.missing_attributes_report(), "missing_attributes_report"),
        "missing_collections_report": partial(
            write, result.missing_collections_report(spark), "missing_collections_report"),
    })
    result.audit_counts = _by_collection(colls, done["ingestion_audit"])


def write_run_jdbc(spark: SparkSession, result: RunResult) -> None:
    """Sink a run into Postgres: one DDL bootstrap that creates every
    table the run writes (the configured audit table, and both reports
    in the configured audit schema), then the run's outputs as
    partition-parallel batched appends
    (reference pipeline.py:94-101 connect/DDL + per-doc inserts). The
    DDL comes from the run's own plans (renamed columns included) and
    its runtime.type_mappings; write_table serializes array columns."""
    from .sinks import jdbc

    app = result.app_config
    db, audit = app["database"], app["audit"]
    tables = {f"data_{c}": t for c, t in result.target_tables.items()}
    tables["ingestion_audit"] = audit["audit_table"]
    for report in ("missing_attributes_report", "missing_collections_report"):
        tables[report] = f"{audit['audit_schema']}.{report}"
    jdbc.execute_statements(spark, db, jdbc.audit_bootstrap_ddl(
        audit["audit_schema"], audit["audit_table"]) + [
        jdbc.create_table_ddl(p.target_table,
                              jdbc.table_columns_from_plan(p, app["runtime"]["type_mappings"]))
        for p in result.plans.values()
    ])
    _write_run(result, lambda df, name: jdbc.write_table(df, tables[name], db))


def write_run_parquet(result: RunResult, out_dir: str) -> None:
    """DB-less sink: the run's outputs as ``<out_dir>/<name>.parquet``
    (the engine's native staging format; JDBC is a swap-in)."""
    _write_run(result, lambda df, name: df.write.mode("overwrite").parquet(
        os.path.join(out_dir, f"{name}.parquet")))


def format_summary(summary: Mapping[str, Any]) -> str:
    """Human-readable run summary (reference reporting.py:36-95 shape)."""
    lines = [
        "ETL Summary",
        f"Ingestion date: {summary['ingestion_date']}",
        "",
        "KPI Summary:",
        f"  Total documents: {summary['total_documents']}",
        f"  Successful documents: {summary['successful_documents']}",
        f"  Documents with errors: {summary['documents_with_errors']}",
        f"  Documents with missing columns: {summary['documents_with_missing_columns']}",
        f"  Insert failures: {summary['insert_failures']}",
        "",
        "Input coverage:",
        f"  Missing collections: {', '.join(summary['missing_collections']) or 'None'}",
        f"  Unmapped collections: {', '.join(summary['unmapped_collections']) or 'None'}",
        f"  Missing tables in schema.sql: {', '.join(summary['missing_tables_input']) or 'None'}",
        f"  Missing tables in database: {', '.join(summary['missing_tables_db']) or 'None'}",
    ]
    if summary["per_collection"]:
        lines += ["", "Per-collection metrics:"]
        for coll in sorted(summary["per_collection"]):
            m = summary["per_collection"][coll]
            lines.append(f"  {coll:<20} processed={m['processed']} errors={m['errors']}")
    if summary["object_statuses"]:
        lines += ["", "Object statuses:"]
        lines += [f"  - {k}: {v}" for k, v in summary["object_statuses"].items()]
    return "\n".join(lines)


def write_with_metrics(df: DataFrame, path: str,
                       metrics: Mapping[str, Any] | None = None) -> dict:
    """Write ``df`` to parquet while collecting audit metrics IN the
    same pass via Spark's Observation API — the engine-side answer to
    the reference's per-document counters (pipeline.py:188-284
    increments success/error tallies as it loops): here the counters
    ride the write job's tasks, so the table lands AND its run-report
    numbers exist after ONE scan, no second aggregation job over the
    data.

    ``metrics`` maps metric name -> aggregate Column (e.g.
    ``{"n_errors": F.count(F.when(F.col("status") == "error", 1))}``);
    a ``rows_written`` count is always included. Returns the collected
    metric dict after the write completes.
    """
    observed, obs = _observe(df, metrics or {})
    observed.write.mode("overwrite").parquet(path)
    return dict(obs.get)
