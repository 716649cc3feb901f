"""Scalar-function and small-operator parity queries (SURVEY.md §2.3/§2.6/§2.7).

Covers the ✦ rows not exercised elsewhere:

- F1 string family      (reference transformer.py:57,120; schema_utils.py:24-26)
- F2 date/time family   (reference transformer.py:82-111; audit.py:7,24)
- F3 math/numeric casts (reference transformer.py:58-63,117-118)
- F4 array/list family  (reference transformer.py:24; reporting.py:90)
- O3 alphabetical sort  (reference ui/run_pipeline.py:517; reporting.py:70,81,89)
- P7 raw-JSON passthrough round trip (reference pipeline.py:231-233)
- P8 audit-field enrichment          (reference audit.py:4-10; pipeline.py:234-236)
- P12 scalar lookup / fillna / cast  (reference postgres_audit_repository.py:62-67,100-102)
- A7 counter accumulation re-derived as one groupBy
                        (reference reporting.py:19-58)

All are narrow projections/aggregations: Catalyst keeps them inside one
whole-stage-codegen span over the scan, with column pruning down to the
referenced columns — nothing here shuffles except the A7 group-by,
which is a partial-aggregated group on a low-cardinality key.

Determinism notes (oracle = DuckDB):
- double→int conversions go through trunc()/floor() explicitly (DuckDB
  CAST(DOUBLE AS INT) rounds; Spark truncates — never rely on the cast);
- money math stays in DECIMAL until the final column;
- set-valued aggregates are array_sort()ed before comparison.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.parquet import load_table

RUN_TS = "2024-06-01 00:00:00"


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# F1: string functions
# ---------------------------------------------------------------------------

def f1_string_funcs(spark, sf_dir):
    """lower/trim normalization, schema.table concat, substring, length
    (the reference's identifier + boolean-string handling)."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lower(F.trim(F.col("c_name"))).alias("name_norm"),
        F.upper(F.col("c_mktsegment")).alias("segment_upper"),
        F.concat_ws(".", F.lit("public"), F.lower("c_mktsegment")).alias("qualified"),
        F.length("c_name").cast("int").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
    )


# ---------------------------------------------------------------------------
# F2: date/time functions
# ---------------------------------------------------------------------------

def f2_datetime_funcs(spark, sf_dir):
    """strftime-style presentation formatting, date-part extraction,
    month truncation, day arithmetic (reference strftime output format +
    ::date truncation)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("date_str"),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mth"),
        F.trunc("o_orderdate", "month").alias("month_start"),
        F.datediff(F.lit("1998-01-01").cast("date"), F.col("o_orderdate"))
        .cast("int")
        .alias("days_before_cutoff"),
    )


# ---------------------------------------------------------------------------
# F3: math / numeric casts
# ---------------------------------------------------------------------------

def f3_numeric_funcs(spark, sf_dir):
    """int()-style truncation toward zero, Decimal(str()) exact cast,
    abs/mod, bool(number) (reference transformer.py:58-63,117-118)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        # Python int(float) truncates toward zero; Spark's double->int
        # CAST truncates too, but DuckDB's rounds — the oracle spells
        # trunc() explicitly to match
        F.col("p_retailprice").cast("int").alias("price_int"),
        # emitted as rounded DOUBLE (not DECIMAL): DuckDB DECIMAL(18,6)
        # lands in pandas as float while Spark hands back decimal.Decimal,
        # so the driver's stringified cells would differ despite equal values
        F.round(F.col("p_retailprice").cast("double"), 2).alias("price_dec"),
        F.abs(F.col("p_size") - F.lit(25)).cast("int").alias("size_dist"),
        (F.col("p_size") % 7).cast("int").alias("size_mod"),
        (F.col("p_size") != 0).alias("size_truthy"),
    )


# ---------------------------------------------------------------------------
# F4: array/list functions
# ---------------------------------------------------------------------------

def f4_array_funcs(spark, sf_dir):
    """Array build (split), size, distinct+sort, union with a constant
    set, join-back — the reference's missing-columns list algebra
    (build/len/sorted/set-union)."""
    p = _t(spark, sf_dir, "part")
    words = F.split("p_name", " ")
    return p.select(
        "p_partkey",
        F.size(words).cast("int").alias("n_words"),
        # scalar (string) output, not array<string>: the driver's pandas
        # canonicalizer can't sort list-typed cells (unhashable type)
        F.array_join(F.array_sort(F.array_distinct(words)), ",").alias("words_set"),
        F.array_join(F.array_sort(F.array_union(words, F.array(F.lit("part")))), ",")
        .alias("words_plus"),
        F.array_contains(words, "ring").alias("has_ring"),
    )


# ---------------------------------------------------------------------------
# O3: alphabetical sort
# ---------------------------------------------------------------------------

def o3_sort_alpha(spark, sf_dir):
    """ORDER BY name ASC over a small dimension (reference sorts every
    report listing alphabetically)."""
    n = _t(spark, sf_dir, "nation")
    return n.select("n_nationkey", "n_name").orderBy(F.asc("n_name"))


# ---------------------------------------------------------------------------
# P7: raw-JSON passthrough round trip
# ---------------------------------------------------------------------------

def p7_raw_json_roundtrip(spark, sf_dir):
    """Capture the whole document as raw JSON *before* projection, then
    prove the passthrough is lossless by re-extracting every mapped
    attribute from the raw string (reference keeps raw_json beside the
    mapped columns, pipeline.py:231-233)."""
    n = _t(spark, sf_dir, "nation")
    raw = F.to_json(F.struct("n_nationkey", "n_name", "n_regionkey"))
    docs = n.select(raw.alias("raw_json"))
    return docs.select(
        F.get_json_object("raw_json", "$.n_nationkey").cast("int").alias("n_nationkey"),
        F.get_json_object("raw_json", "$.n_name").alias("n_name"),
        F.get_json_object("raw_json", "$.n_regionkey").cast("int").alias("n_regionkey"),
    )


# ---------------------------------------------------------------------------
# P8: audit-field enrichment
# ---------------------------------------------------------------------------

def p8_audit_enrichment(spark, sf_dir):
    """Business-audit columns stamped onto every row: run timestamp,
    source collection, status (reference audit.py:4-10). The run
    timestamp is pinned for determinism (the engine default is
    current_timestamp(), transform.py)."""
    r = _t(spark, sf_dir, "region")
    return r.select(
        "r_regionkey",
        "r_name",
        F.lit(RUN_TS).cast("timestamp").alias("ingested_at"),
        F.lit("region").alias("source_collection"),
        F.lit("success").alias("status"),
    )


# ---------------------------------------------------------------------------
# P12: scalar lookup with fallback + fillna + cast
# ---------------------------------------------------------------------------

_NATION_SHORT = {
    "UNITED STATES": "us",
    "GERMANY": "de",
    "FRANCE": "fr",
    "CHINA": "cn",
}


def p12_scalar_lookup(spark, sf_dir):
    """Tiny dict lookup applied per row with fallback to the input value
    (reference Series.map + fillna, postgres_audit_repository.py:62-67)
    — expressed as element_at(create_map(...)) so it stays a codegen'd
    expression, no join, no shuffle. The companion fillna+int-cast
    mirrors :100-102."""
    n = _t(spark, sf_dir, "nation")
    pairs = []
    for k, v in _NATION_SHORT.items():
        pairs.extend([F.lit(k), F.lit(v)])
    lookup = F.element_at(F.create_map(*pairs), F.col("n_name"))
    return n.select(
        "n_nationkey",
        F.coalesce(lookup, F.lower("n_name")).alias("short_code"),
        F.coalesce(
            F.when(F.col("n_regionkey") > 2, F.col("n_regionkey")), F.lit(0)
        ).cast("int").alias("far_region"),
    )


# ---------------------------------------------------------------------------
# A7: counter accumulation as one groupBy
# ---------------------------------------------------------------------------

def a7_report_accumulation(spark, sf_dir):
    """The reference accumulates per-collection counters + a per-object
    missing-column set in a mutable PipelineReport (reporting.py:19-58).
    Re-derived as ONE partial-aggregated groupBy: counts are map-side
    combined; the set union is collect_set (bounded: the value domain is
    the mapped column list, not the row count)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_returnflag").alias("collection"))
        .agg(
            F.count("*").alias("processed"),
            F.count(F.when(F.col("l_discount") > F.lit(0.05), 1)).alias("errors"),
            F.count(F.when(F.col("l_quantity") > F.lit(49), 1)).alias("insert_failures"),
            F.array_join(F.array_sort(F.collect_set("l_linestatus")), ",")
            .alias("statuses_seen"),
        )
    )


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

ORACLE_SQL = {
    "f1_string_funcs": """
        SELECT c_custkey,
               lower(trim(c_name)) AS name_norm,
               upper(c_mktsegment) AS segment_upper,
               concat_ws('.', 'public', lower(c_mktsegment)) AS qualified,
               CAST(length(c_name) AS INT) AS name_len,
               substr(c_name, 1, 8) AS name_prefix
        FROM customer
    """,
    "f2_datetime_funcs": """
        SELECT o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS date_str,
               CAST(year(o_orderdate) AS INT) AS yr,
               CAST(month(o_orderdate) AS INT) AS mth,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
               CAST(datediff('day', o_orderdate, DATE '1998-01-01') AS INT)
                   AS days_before_cutoff
        FROM orders
    """,
    "f3_numeric_funcs": """
        SELECT p_partkey,
               CAST(trunc(p_retailprice) AS INT) AS price_int,
               round(CAST(p_retailprice AS DOUBLE), 2) AS price_dec,
               CAST(abs(p_size - 25) AS INT) AS size_dist,
               CAST(p_size % 7 AS INT) AS size_mod,
               p_size <> 0 AS size_truthy
        FROM part
    """,
    "f4_array_funcs": """
        SELECT p_partkey,
               CAST(len(string_split(p_name, ' ')) AS INT) AS n_words,
               array_to_string(
                   list_sort(list_distinct(string_split(p_name, ' '))), ',')
                   AS words_set,
               array_to_string(
                   list_sort(list_distinct(
                       list_concat(string_split(p_name, ' '), ['part']))), ',')
                   AS words_plus,
               list_contains(string_split(p_name, ' '), 'ring') AS has_ring
        FROM part
    """,
    "o3_sort_alpha": """
        SELECT n_nationkey, n_name FROM nation ORDER BY n_name
    """,
    "p7_raw_json_roundtrip": """
        SELECT CAST(n_nationkey AS INT) AS n_nationkey,
               n_name,
               CAST(n_regionkey AS INT) AS n_regionkey
        FROM nation
    """,
    "p8_audit_enrichment": """
        SELECT r_regionkey, r_name,
               TIMESTAMP '2024-06-01 00:00:00' AS ingested_at,
               'region' AS source_collection,
               'success' AS status
        FROM region
    """,
    "p12_scalar_lookup": """
        SELECT n_nationkey,
               coalesce(
                   CASE n_name
                       WHEN 'UNITED STATES' THEN 'us'
                       WHEN 'GERMANY' THEN 'de'
                       WHEN 'FRANCE' THEN 'fr'
                       WHEN 'CHINA' THEN 'cn'
                   END,
                   lower(n_name)) AS short_code,
               CAST(coalesce(
                   CASE WHEN n_regionkey > 2 THEN n_regionkey END, 0) AS INT)
                   AS far_region
        FROM nation
    """,
    "a7_report_accumulation": """
        SELECT l_returnflag AS collection,
               count(*) AS processed,
               count(*) FILTER (WHERE l_discount > 0.05) AS errors,
               count(*) FILTER (WHERE l_quantity > 49) AS insert_failures,
               array_to_string(list_sort(list(DISTINCT l_linestatus)), ',')
                   AS statuses_seen
        FROM lineitem
        GROUP BY l_returnflag
    """,
}

QUERIES = {
    "f1_string_funcs": f1_string_funcs,
    "f2_datetime_funcs": f2_datetime_funcs,
    "f3_numeric_funcs": f3_numeric_funcs,
    "f4_array_funcs": f4_array_funcs,
    "o3_sort_alpha": o3_sort_alpha,
    "p7_raw_json_roundtrip": p7_raw_json_roundtrip,
    "p8_audit_enrichment": p8_audit_enrichment,
    "p12_scalar_lookup": p12_scalar_lookup,
    "a7_report_accumulation": a7_report_accumulation,
}
