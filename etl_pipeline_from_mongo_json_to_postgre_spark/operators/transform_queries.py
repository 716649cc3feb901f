"""Oracle-checked queries exercising the transform engine (P1-P8).

Two styles:
- p1/audit_*: MappingPlan applied to real testdata rows re-serialized as
  JSON documents (the reference's input shape), oracle = equivalent
  direct SQL over the same table.
- p2..p6: a fixed literal document set / value table runs through the
  engine; oracle = hand-computed golden VALUES. These pin the
  missing-vs-null-vs-error semantics (reference transformer.py:22-77)
  and the multi-format date/bool rules (transformer.py:82-125).

Documented relaxations vs the reference (JSON erases Python types):
- numeric-looking strings are treated as numbers for int/float/bool
  casts (reference errors on str for bool, truncates only real floats);
- timezone-aware datetimes resolve to the UTC instant (reference keeps
  the local wall-clock date).
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from ..functions.casts import multi_format_date, multi_format_timestamp, normalize_boolean
from ..operators.transform import transform_collection
from ..plans.mapping_plan import MappingPlan
from ..sources.parquet import fan_out, load_table

RUN_TS = "2024-06-01 00:00:00"

# ---------------------------------------------------------------------------
# P1: mapped projection + rename + cast over real rows-as-documents
# ---------------------------------------------------------------------------

_ORDERS_PLAN = MappingPlan.from_config(
    "orders_docs",
    {
        "target_table": "public.orders_docs",
        "object_id_attribute": "o_orderkey",
        "mappings": {
            "o_orderkey": {"column": "order_id", "type": "bigint"},
            "o_orderstatus": {"column": "order_status", "type": "text"},
            "o_totalprice": {"column": "total_amount", "type": "double"},
            "o_orderdate": {"column": "order_date", "type": "date"},
            "o_orderpriority": {"column": "priority", "type": "text"},
        },
    },
)


# shared scan fan-out lives in sources.parquet.fan_out
_fan_out = fan_out


def _orders_as_docs(spark, sf_dir):
    """Re-serialize orders as JSON documents; '1-URGENT' priorities are
    dropped from the document (to_json omits nulls) to exercise the
    missing-attribute path on real data."""
    orders = _fan_out(spark, load_table(spark, sf_dir, "orders"))
    raw = F.to_json(
        F.struct(
            F.col("o_orderkey"),
            F.col("o_orderstatus"),
            F.col("o_totalprice"),
            F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss").alias("o_orderdate"),
            F.when(F.col("o_orderpriority") != "1-URGENT", F.col("o_orderpriority"))
            .alias("o_orderpriority"),
        )
    )
    return orders.select(raw.alias("raw_json"))


def p1_mapped_projection(spark, sf_dir):
    docs = _orders_as_docs(spark, sf_dir)
    data, _ = transform_collection(docs, _ORDERS_PLAN, ingested_at=RUN_TS)
    return data.select(
        "order_id",
        "order_status",
        "total_amount",
        "order_date",
        "priority",
        F.array_join(
            F.array_sort(
                F.filter(
                    F.array(F.when(F.col("priority").isNull(), F.lit("priority"))),
                    lambda x: x.isNotNull(),
                )
            ),
            ",",
        ).alias("missing_cols"),
        "status",
    )


def audit_missing_columns_report(spark, sf_dir):
    """The missing-attributes report (reference ui/run_pipeline.py:395-433,
    postgres_audit_repository.py:39-111): explode audit missing_columns,
    count per (object_name, column)."""
    docs = _orders_as_docs(spark, sf_dir)
    _, audit = transform_collection(docs, _ORDERS_PLAN, ingested_at=RUN_TS)
    # explode_outer, NOT explode: explode's implicit `size(arr) > 0`
    # pre-filter is deterministic over scan columns, so Catalyst pushes
    # it below fan_out's round-robin Exchange into the (single-row-
    # group, single-task) scan stage — where it re-evaluates the whole
    # JSON serialize->parse->missing-array pipeline once per
    # array_contains branch, single-threaded (measured 7 s vs 0.9 s at
    # sf0.1). explode_outer has no pushable pre-filter; the null guard
    # applies AFTER the Generate, post-Exchange, fully parallel.
    return (
        audit.select(
            "object_name",
            F.explode_outer("missing_columns").alias("missing_column"),
        )
        .where(F.col("missing_column").isNotNull())
        .groupBy("object_name", "missing_column")
        .agg(F.count("*").alias("missing_docs_count"))
    )


def audit_status_pivot(spark, sf_dir):
    """Flagship A1 over a real audit frame: ingest orders + lineitem as
    document collections, pivot object_name x processing_status
    (reference ui/audit_dashboard.py:100-123)."""
    docs = _orders_as_docs(spark, sf_dir)
    _, audit_o = transform_collection(docs, _ORDERS_PLAN, ingested_at=RUN_TS)
    li = _fan_out(spark, load_table(spark, sf_dir, "lineitem"))
    li_docs = li.select(
        F.to_json(
            F.struct(
                "l_orderkey",
                "l_linenumber",
                "l_quantity",
                # '50%' is uncastable -> error path on real data
                F.when(F.col("l_discount") <= 0.05, F.col("l_discount"))
                .otherwise(F.lit("50%"))
                .alias("l_discount"),
            )
        ).alias("raw_json")
    )
    li_plan = MappingPlan.from_config(
        "lineitem_docs",
        {
            "target_table": "public.lineitem_docs",
            "mappings": {
                "l_orderkey": {"column": "order_id", "type": "bigint"},
                "l_linenumber": {"column": "line_no", "type": "integer"},
                "l_quantity": {"column": "qty", "type": "double"},
                "l_discount": {"column": "discount", "type": "double"},
            },
        },
    )
    _, audit_l = transform_collection(li_docs, li_plan, ingested_at=RUN_TS)
    audit = audit_o.unionByName(audit_l)
    return (
        audit.groupBy("object_name")
        .pivot("processing_status", ["success", "error", "missing"])
        .count()
        .na.fill(0)
    )


def audit_report_assembly(spark, sf_dir):
    """The full missing-columns report pipeline (reference
    postgres_audit_repository.py:39-111) as ONE query: conditional-count
    aggregation (A3) + tiny-dim lookup join with fallback (J2) + dedup
    (U2) + full-outer merge (J1) + fillna/int cast (P12) + multi-key
    NULLs-last sort (O2), over a real synthesized audit frame.

    Scale shape: both inputs to the outer join are already aggregated
    to (day, collection) cardinality before shuffling; the
    table->collection lookup is a broadcast.
    """
    docs = _orders_as_docs(spark, sf_dir)
    _, audit_o = transform_collection(docs, _ORDERS_PLAN, ingested_at=RUN_TS)
    li = _fan_out(spark, load_table(spark, sf_dir, "lineitem"))
    li_docs = li.select(
        F.to_json(
            F.struct(
                "l_orderkey",
                F.when(F.col("l_discount") <= 0.05, F.col("l_discount"))
                .otherwise(F.lit("50%")).alias("l_discount"),
            )
        ).alias("raw_json")
    )
    li_plan = MappingPlan.from_config(
        "lineitem_docs",
        {
            "target_table": "public.lineitem_docs",
            "mappings": {
                "l_orderkey": {"column": "order_id", "type": "bigint"},
                "l_discount": {"column": "discount", "type": "double"},
            },
        },
    )
    _, audit_l = transform_collection(li_docs, li_plan, ingested_at=RUN_TS)
    audit = audit_o.unionByName(audit_l)

    # ONE pass over the audit frame: pre-aggregate to (object, collection,
    # day) cardinality, then derive BOTH report inputs from the tiny
    # pre-aggregate. (Two separate aggregations over a cached frame race
    # the cache on first materialization — both branches of one job
    # execute the transform concurrently before either can populate it.)
    # The per-object missing-column SET is computed as one boolean flag
    # per mapped column (max(array_contains(...))) rather than
    # collect_list over all rows: flags combine map-side, so the shuffle
    # carries one row per (object, collection, day) group instead of
    # funneling every row's array through the group's single reducer —
    # the difference between O(groups) and O(rows) on the hot reducer at
    # 100 TB.
    mapped_cols = sorted(
        {a.column for a in _ORDERS_PLAN.attributes}
        | {a.column for a in li_plan.attributes}
    )
    preagg = (
        audit.groupBy(
            "object_name",
            F.col("source_collection"),
            F.to_date("ingested_at").alias("ingestion_date"),
        )
        .agg(
            F.count(F.when(F.size("missing_columns") > 0, 1)).alias("missing_docs_count"),
            *[
                F.max(F.array_contains("missing_columns", c)).alias(f"m{i}")
                for i, c in enumerate(mapped_cols)
            ],
        )
    )
    # Materialize the group-cardinality pre-aggregate ONCE. Without the
    # barrier Catalyst splits the two report branches below into
    # independent subtrees, each re-running the full JSON transform of
    # BOTH collections (measured: 4 from_json pipelines in the optimized
    # plan instead of 2, and 2x the suite's hottest CPU path). The
    # checkpoint is group-sized (one row per (object, collection, day)),
    # so materializing it costs nothing while the expensive document
    # scan above it executes exactly once. At 100 TB this is the
    # difference between one corpus pass and two.
    preagg = preagg.localCheckpoint(eager=True)

    # missing_attributes_report (reference ui/run_pipeline.py:424-433)
    mar = (
        preagg.groupBy("object_name")
        .agg(*[F.max(f"m{i}").alias(f"m{i}") for i in range(len(mapped_cols))])
        .select(
            "object_name",
            F.array_sort(
                F.filter(
                    F.array(
                        *[
                            F.when(F.col(f"m{i}"), F.lit(c))
                            for i, c in enumerate(mapped_cols)
                        ]
                    ),
                    lambda x: x.isNotNull(),
                )
            ).alias("missing_columns"),
        )
        .where(F.size("missing_columns") > 0)
        .select(F.lit(RUN_TS).cast("date").alias("ingestion_date"),
                "object_name", "missing_columns")
    )
    # table -> collection lookup with fallback to own name (J2/P12)
    lookup = spark.createDataFrame(
        [("public.orders_docs", "orders_docs"),
         ("public.lineitem_docs", "lineitem_docs")],
        "target_table string, collection_name string",
    )
    df_missing = (
        mar.join(F.broadcast(lookup), mar.object_name == lookup.target_table, "left")
        .select(
            "ingestion_date",
            F.coalesce("collection_name", "object_name").alias("collection_name"),
            "missing_columns",
        )
        .dropDuplicates(["ingestion_date", "collection_name"])
    )
    # conditional-count aggregation (A3, reference :72-84)
    df_counts = (
        preagg.where(F.col("source_collection").isNotNull())
        .groupBy("ingestion_date",
                 F.col("source_collection").alias("collection_name"))
        .agg(F.sum("missing_docs_count").cast("bigint").alias("missing_docs_count"))
    )
    # full outer merge + fillna + int cast + NULLs-last multi-key sort
    report = (
        df_counts.join(df_missing, ["ingestion_date", "collection_name"], "outer")
        .select(
            "collection_name",
            "ingestion_date",
            F.array_join("missing_columns", ",").alias("missing_columns"),
            F.coalesce("missing_docs_count", F.lit(0)).cast("int").alias("missing_docs_count"),
        )
        .orderBy(F.desc_nulls_last("ingestion_date"), F.asc("collection_name"))
    )
    return report


# ---------------------------------------------------------------------------
# P2/P3: literal documents -> missing / error / null golden outputs
# ---------------------------------------------------------------------------

_DOCS = [
    {"customer_id": 1, "name": "Alice", "signup_date": "2024-01-15", "balance": 10.5, "active": True},
    {"customer_id": 2, "name": "Bob", "active": "yes"},
    {"customer_id": 3, "name": None, "signup_date": None, "balance": None, "active": None},
    {"customer_id": "abc", "name": "Dora", "signup_date": "not-a-date", "balance": "xx", "active": "maybe"},
    {"customer_id": "7", "name": 99, "signup_date": "01/16/2024", "balance": "12.25", "active": 0},
    {"customer_id": 8.9, "name": "Eve", "signup_date": "2024-01-15T10:30:00", "balance": 3, "active": 2},
    {"customer_id": -2.7, "name": "Neg"},
]

_DOCS_PLAN = MappingPlan.from_config(
    "customers_docs",
    {
        "target_table": "public.customers_docs",
        "object_id_attribute": "customer_id",
        "mappings": {
            "customer_id": {"column": "customer_id", "type": "bigint"},
            "name": {"column": "name", "type": "text"},
            "signup_date": {"column": "signup_date", "type": "date"},
            "balance": {"column": "balance", "type": "double"},
            "active": {"column": "active", "type": "boolean"},
        },
    },
)


def p2_p3_missing_error_semantics(spark, sf_dir):
    rows = [(i, json.dumps(d)) for i, d in enumerate(_DOCS)]
    df = spark.createDataFrame(rows, "doc_idx int, raw_json string")
    data, audit = transform_collection(df, _DOCS_PLAN, ingested_at=RUN_TS)
    # join projected data back to doc_idx via the raw json (unique per doc)
    proj = _DOCS_PLAN.apply(df)
    return df.select("doc_idx", "raw_json").join(
        proj.select(
            "raw_json",
            "customer_id",
            "name",
            "signup_date",
            "balance",
            "active",
            F.array_join(F.array_sort(_DOCS_PLAN.work_col("missing_columns")), ",")
            .alias("missing_cols"),
            F.array_join(_DOCS_PLAN.work_col("transform_errors"), ",").alias("errors"),
        ),
        "raw_json",
    ).drop("raw_json")


ORACLE_SQL: dict[str, str] = {}

ORACLE_SQL["p1_mapped_projection"] = """
    SELECT o_orderkey AS order_id,
           o_orderstatus AS order_status,
           o_totalprice AS total_amount,
           CAST(o_orderdate AS DATE) AS order_date,
           CASE WHEN o_orderpriority = '1-URGENT' THEN NULL
                ELSE o_orderpriority END AS priority,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 'priority'
                ELSE '' END AS missing_cols,
           'success' AS status
    FROM orders
"""

ORACLE_SQL["audit_missing_columns_report"] = """
    SELECT 'public.orders_docs' AS object_name,
           'priority' AS missing_column,
           count(*) AS missing_docs_count
    FROM orders WHERE o_orderpriority = '1-URGENT'
    HAVING count(*) > 0
"""

ORACLE_SQL["audit_status_pivot"] = """
    SELECT 'public.orders_docs' AS object_name,
           count(*) AS success, 0 AS error, 0 AS missing
    FROM orders
    UNION ALL
    SELECT 'public.lineitem_docs',
           count(*) FILTER (WHERE l_discount <= 0.05),
           count(*) FILTER (WHERE l_discount > 0.05),
           0
    FROM lineitem
"""

ORACLE_SQL["audit_report_assembly"] = """
    WITH df_missing AS (
        SELECT CAST('2024-06-01' AS DATE) AS ingestion_date,
               'orders_docs' AS collection_name,
               'priority' AS missing_columns
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_orderpriority = '1-URGENT')
    ), df_counts AS (
        SELECT CAST('2024-06-01' AS DATE) AS ingestion_date,
               'orders_docs' AS collection_name,
               count(*) FILTER (WHERE o_orderpriority = '1-URGENT')
                   AS missing_docs_count
        FROM orders
        UNION ALL
        SELECT CAST('2024-06-01' AS DATE), 'lineitem_docs',
               count(*) FILTER (WHERE FALSE)
        FROM lineitem
    )
    SELECT coalesce(c.collection_name, m.collection_name) AS collection_name,
           coalesce(c.ingestion_date, m.ingestion_date) AS ingestion_date,
           m.missing_columns,
           CAST(coalesce(c.missing_docs_count, 0) AS INT) AS missing_docs_count
    FROM df_counts c FULL OUTER JOIN df_missing m
      ON c.ingestion_date = m.ingestion_date
     AND c.collection_name = m.collection_name
"""

ORACLE_SQL["p2_p3_missing_error_semantics"] = """
    SELECT * FROM (VALUES
        (0, 1::BIGINT, 'Alice', DATE '2024-01-15', 10.5::DOUBLE, true,  '', ''),
        (1, 2::BIGINT, 'Bob',   NULL::DATE,        NULL::DOUBLE, true,
         'balance,signup_date', ''),
        (2, 3::BIGINT, NULL,    NULL::DATE,        NULL::DOUBLE, NULL::BOOLEAN,
         '', ''),
        (3, NULL::BIGINT, 'Dora', NULL::DATE,      NULL::DOUBLE, NULL::BOOLEAN,
         '',
         'customer_id: invalid bigint value,signup_date: invalid date value,'
         || 'balance: invalid double value,active: invalid boolean value'),
        (4, 7::BIGINT, '99', DATE '2024-01-16', 12.25::DOUBLE, false, '', ''),
        (5, 8::BIGINT, 'Eve', DATE '2024-01-15', 3.0::DOUBLE, true, '', ''),
        (6, -2::BIGINT, 'Neg', NULL::DATE, NULL::DOUBLE, NULL::BOOLEAN,
         'active,balance,signup_date', '')
    ) AS t(doc_idx, customer_id, name, signup_date, balance, active,
           missing_cols, errors)
"""


# ---------------------------------------------------------------------------
# P4/P5/P6: multi-format date/datetime + boolean normalization goldens
# ---------------------------------------------------------------------------

_DATE_INPUTS = [
    (1, "2024-01-15"),
    (2, "01/16/2024"),
    (3, "17-01-2024"),
    (4, "2024/01/18"),
    (5, "2024.01.19"),
    (6, "2024-01-20T10:30:00"),
    (7, "2024-01-21T23:30:00+0500"),
    (8, "2024-01-22T10:30:00.123456Z"),
    (9, "23-01-2024 10:30:00"),
    (10, "01/24/2024 10:30 PM"),
    (11, "nope"),
    (12, None),
]


def p4_multiformat_date(spark, sf_dir):
    df = spark.createDataFrame(_DATE_INPUTS, "idx int, raw string")
    return df.selectExpr("idx", f"{multi_format_date('raw')} AS parsed")


ORACLE_SQL["p4_multiformat_date"] = """
    SELECT * FROM (VALUES
        (1, DATE '2024-01-15'), (2, DATE '2024-01-16'), (3, DATE '2024-01-17'),
        (4, DATE '2024-01-18'), (5, DATE '2024-01-19'), (6, DATE '2024-01-20'),
        (7, DATE '2024-01-21'), (8, DATE '2024-01-22'), (9, DATE '2024-01-23'),
        (10, DATE '2024-01-24'), (11, NULL::DATE), (12, NULL::DATE)
    ) AS t(idx, parsed)
"""


def p5_multiformat_datetime(spark, sf_dir):
    df = spark.createDataFrame(_DATE_INPUTS, "idx int, raw string")
    return df.selectExpr("idx", f"{multi_format_timestamp('raw')} AS parsed")


ORACLE_SQL["p5_multiformat_datetime"] = """
    SELECT * FROM (VALUES
        (1, TIMESTAMP '2024-01-15 00:00:00'),
        (2, TIMESTAMP '2024-01-16 00:00:00'),
        (3, TIMESTAMP '2024-01-17 00:00:00'),
        (4, TIMESTAMP '2024-01-18 00:00:00'),
        (5, TIMESTAMP '2024-01-19 00:00:00'),
        (6, TIMESTAMP '2024-01-20 10:30:00'),
        (7, TIMESTAMP '2024-01-21 18:30:00'),
        (8, TIMESTAMP '2024-01-22 10:30:00.123456'),
        (9, TIMESTAMP '2024-01-23 10:30:00'),
        (10, TIMESTAMP '2024-01-24 22:30:00'),
        (11, NULL::TIMESTAMP), (12, NULL::TIMESTAMP)
    ) AS t(idx, parsed)
"""


_BOOL_INPUTS = [
    (1, "true"), (2, "T"), (3, "  yes "), (4, "Y"), (5, "1"),
    (6, "false"), (7, "F"), (8, "no"), (9, "N"), (10, "0"),
    (11, "2"), (12, "-1"), (13, "0.0"), (14, "2.5"),
    (15, "abc"), (16, ""), (17, None), (18, "TRUE"), (19, "No"),
]


def p6_boolean_normalize(spark, sf_dir):
    df = spark.createDataFrame(_BOOL_INPUTS, "idx int, raw string")
    return df.selectExpr("idx", f"{normalize_boolean('raw')} AS flag")


ORACLE_SQL["p6_boolean_normalize"] = """
    SELECT * FROM (VALUES
        (1, true), (2, true), (3, true), (4, true), (5, true),
        (6, false), (7, false), (8, false), (9, false), (10, false),
        (11, true), (12, true), (13, false), (14, true),
        (15, NULL::BOOLEAN), (16, NULL::BOOLEAN), (17, NULL::BOOLEAN),
        (18, true), (19, false)
    ) AS t(idx, flag)
"""


QUERIES = {
    "p1_mapped_projection": p1_mapped_projection,
    "audit_missing_columns_report": audit_missing_columns_report,
    "audit_status_pivot": audit_status_pivot,
    "audit_report_assembly": audit_report_assembly,
    "p2_p3_missing_error_semantics": p2_p3_missing_error_semantics,
    "p4_multiformat_date": p4_multiformat_date,
    "p5_multiformat_datetime": p5_multiformat_datetime,
    "p6_boolean_normalize": p6_boolean_normalize,
}
