"""TPC-H-shaped relational suite, round-4 completions (q6-q22 shapes).

Complements the q1/q2/q3/q4/q5/q14/q16/q18/q21 shapes in analytics.py so
the engine covers every classic TPC-H plan shape the test tables can
express (no partsupp / commitdate / shipmode columns exist, so q11/q12/
q17/q20 are re-shaped onto the available fact columns while keeping the
plan structure that makes each query interesting — the correlated
aggregate, the disjunctive pushdown, the HAVING-vs-global-scalar, the
double-anti-join).

Determinism discipline (same as analytics.py): aggregate money math in
exact DECIMAL, one CAST to DOUBLE at the end; top-k carries a unique
tie-break; single fp division with identical operand order on both
engines.

Scale notes inline per query. Reference parity: the reference engine has
no relational suite beyond its dashboard aggregates (see SURVEY.md §2.5,
reference ui/audit_dashboard.py) — this family is the prompt-mandated
analytics extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.parquet import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _dec_price() -> F.Column:
    return F.col("l_extendedprice").cast("decimal(12,2)")


def _dec_disc() -> F.Column:
    return F.col("l_discount").cast("decimal(4,2)")


def _rev() -> F.Column:
    return _dec_price() * (F.lit(1).cast("decimal(4,2)") - _dec_disc())


_SQL_REV = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"
)


# ---------------------------------------------------------------------------
# Q6 — pure scan-filter-aggregate
# ---------------------------------------------------------------------------

def tpch_q6_forecast_revenue(spark, sf_dir):
    """Q6: no join at all — the whole query is a scan with three
    pushed-down predicates and a map-side partial sum; the shuffle
    carries exactly one partial row per task. The discount band compares
    in DECIMAL(4,2) so 0.05/0.07 double noise can't flake the boundary."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (_dec_disc() >= F.lit("0.05").cast("decimal(4,2)"))
            & (_dec_disc() <= F.lit("0.07").cast("decimal(4,2)"))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(_dec_price() * _dec_disc()).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q7 — two-path nation-pair volume
# ---------------------------------------------------------------------------

def tpch_q7_volume_shipping(spark, sf_dir):
    """Q7: lineitem joins BOTH its supplier's nation and its order's
    customer's nation, keeping only the (NATION_1, NATION_2) pair in
    either direction. Both nation dims broadcast; the only big shuffles
    are lineitem⋈orders and orders⋈customer on their keys. The pair
    filter lands on the joined row (Catalyst pushes each nation-name
    IN-list into its broadcast side)."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
    n2 = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q8 — market share within a region
# ---------------------------------------------------------------------------

def tpch_q8_market_share(spark, sf_dir):
    """Q8: NATION_3's share of ECONOMY-part revenue sold into ASIA, per
    order year. All-nation revenue and target-nation revenue come out of
    ONE aggregate (conditional sum), so the fact is scanned once. The
    share division is the only fp op: double(exact target)/double(exact
    total), identical operand order in the oracle."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    cust_nations = (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    supp_nation = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    l = _t(spark, sf_dir, "lineitem")
    zero = F.lit(0).cast("decimal(16,4)")
    rev = _rev().cast("decimal(16,4)")
    is_target = F.col("supp_nation") == "NATION_3"
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cust_nations), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(F.when(is_target, rev).otherwise(zero))
            .cast("double")
            .alias("target_rev"),
            F.sum(rev).cast("double").alias("total_rev"),
        )
        .select(
            "o_year",
            (F.col("target_rev") / F.col("total_rev")).alias("mkt_share"),
        )
    )


# ---------------------------------------------------------------------------
# Q9 — product-line profit by supplier nation and year
# ---------------------------------------------------------------------------

def tpch_q9_product_profit(spark, sf_dir):
    """Q9-shaped (no partsupp/supplycost column exists, so profit =
    discounted revenue): every 'red' part's revenue attributed to the
    supplier's nation per order year. part filter prunes before the fact
    join; nation broadcast at the end keys only 25 values."""
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(_rev()).cast("double").alias("profit"))
    )


# ---------------------------------------------------------------------------
# Q10 — returned-item revenue ranking
# ---------------------------------------------------------------------------

def tpch_q10_returned_items(spark, sf_dir):
    """Q10: one quarter of orders, returned lines only, revenue per
    customer, deterministic top-20 (revenue desc, custkey asc tie-break
    — revenue is exact DECIMAL when ranked, cast to double only on
    output). TakeOrdered(20) instead of a global sort."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_rev()).alias("rev_dec"))
        .orderBy(F.desc("rev_dec"), F.asc("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.col("rev_dec").cast("double").alias("revenue"),
            "c_acctbal",
            "n_name",
        )
    )


# ---------------------------------------------------------------------------
# Q11 — HAVING against a broadcast global scalar
# ---------------------------------------------------------------------------

def tpch_q11_important_parts(spark, sf_dir):
    """Q11-shaped (inventory value re-based on shipped value: quantity x
    extendedprice has no partsupp twin here): per-part shipped value for
    NATION_5 suppliers, keeping parts above 0.1% of the nation total.
    The grouped frame is materialized ONCE (eager localCheckpoint) and
    feeds both the global scalar and the filtered output — the scalar
    rides a broadcast crossJoin, never a second fact scan."""
    s = _t(spark, sf_dir, "supplier").filter(F.col("s_nationkey") == 5).select(
        "s_suppkey"
    )
    l = _t(spark, sf_dir, "lineitem")
    val = (_dec_price() * F.col("l_quantity").cast("decimal(12,2)")).cast(
        "decimal(20,4)"
    )
    per_part = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(val).alias("value_dec"))
        .localCheckpoint(eager=True)
    )
    total = per_part.agg(
        F.sum("value_dec").cast("decimal(30,8)").alias("total_dec")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_dec").cast("decimal(30,8)")
            * F.lit(1000).cast("decimal(10,0)")
            > F.col("total_dec")
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("value_dec").cast("double").alias("part_value"),
        )
    )


# ---------------------------------------------------------------------------
# Q12 — late-shipment priority census
# ---------------------------------------------------------------------------

def tpch_q12_late_priority(spark, sf_dir):
    """Q12-shaped (no shipmode column: the census keys on lateness
    bucket instead): conditional counts of critical vs other order
    priorities among 1996 shipments, split by whether the line shipped
    more than 90 days after the order date. One join, one aggregate, no
    window."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(late.alias("late"))
        .agg(
            F.count(F.when(crit, 1)).alias("high_line_count"),
            F.count(F.when(~crit, 1)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q13 — order-count distribution over an outer join
# ---------------------------------------------------------------------------

def tpch_q13_customer_distribution(spark, sf_dir):
    """Q13: LEFT OUTER customer⋈orders (keeping order-less customers as
    count 0), then the distribution of customers per order count. First
    aggregate keys on c_custkey (shuffle |customers|), second on c_count
    (shuffle |distinct counts| — tiny)."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    ).select("o_orderkey", "o_custkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


# ---------------------------------------------------------------------------
# Q15 — argmax against a broadcast scalar
# ---------------------------------------------------------------------------

def tpch_q15_top_supplier(spark, sf_dir):
    """Q15: quarterly revenue per supplier; return the max-revenue
    supplier(s) by comparing each row to the broadcast global max in
    exact DECIMAL (ties kept, like the spec's nested-subquery form).
    Grouped frame materialized once for both consumers."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    per_supp = (
        l.groupBy("l_suppkey")
        .agg(F.sum(_rev()).alias("rev_dec"))
        .localCheckpoint(eager=True)
    )
    mx = per_supp.agg(F.max("rev_dec").alias("max_dec"))
    return (
        per_supp.crossJoin(F.broadcast(mx))
        .filter(F.col("rev_dec") == F.col("max_dec"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name",
            F.col("rev_dec").cast("double").alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Q17 — correlated per-part average
# ---------------------------------------------------------------------------

def tpch_q17_small_quantity_revenue(spark, sf_dir):
    """Q17: lines of Brand#23 parts whose quantity is below 20% of that
    part's average quantity; avg yearly revenue loss = sum(price)/7.
    The correlated avg decorrelates into a per-part aggregate joined
    back — the classic rewrite; part filter prunes both sides. The
    threshold is double(exact sum)/count*0.2 with identical operand
    order on both engines."""
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    l = _t(spark, sf_dir, "lineitem")
    lp = l.join(F.broadcast(p), l.l_partkey == p.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    ).localCheckpoint(eager=True)
    avg_q = lp.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double")
            / F.count("*")
            * F.lit(0.2)
        ).alias("qty_threshold")
    )
    return (
        lp.join(F.broadcast(avg_q), F.col("l_partkey") == F.col("a_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (F.sum(_dec_price()).cast("double") / F.lit(7.0)).alias("avg_yearly")
        )
    )


# ---------------------------------------------------------------------------
# Q19 — disjunctive predicate pushdown
# ---------------------------------------------------------------------------

def tpch_q19_disjunctive_revenue(spark, sf_dir):
    """Q19: three OR'd brand/size/quantity bands over one part⋈lineitem
    join. The join key is shared by every disjunct, so the OR lives as a
    residual filter on one equi-join (never a union of three scans);
    Catalyst pushes the derivable size/quantity envelopes to the
    scans."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    l = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    band = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15)
           & q.between(20, 30))
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(band)
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q20 — nested-IN supplier promotion
# ---------------------------------------------------------------------------

def tpch_q20_promotion_suppliers(spark, sf_dir):
    """Q20-shaped (no partsupp availqty: 'excess stock' re-based to
    '1996 shipped quantity of SMALL parts above 300 units'): part-type
    filter → per-supplier quantity aggregate → HAVING → join supplier
    names. The IN-chains decorrelate into aggregates + equi-joins, the
    shape Q20's nested INs always optimize to."""
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "SMALL")
        .select("p_partkey")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("qty_dec"))
        .filter(F.col("qty_dec") > F.lit(300).cast("decimal(12,2)"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name",
            F.col("qty_dec").cast("double").alias("total_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Q22 — anti-join + global scalar threshold
# ---------------------------------------------------------------------------

def tpch_q22_dormant_customers(spark, sf_dir):
    """Q22-shaped (every customer has SOME order, so 'no orders' becomes
    'no orders since 2000'): rich-but-dormant customers per nation.
    Shape preserved: scalar subquery (avg positive balance) broadcast
    into the filter + LEFT ANTI join against recent orders + final
    nation census."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double")
                / F.count("*")
            ).alias("avg_bal")
        )
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(12,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )


ORACLE_SQL: dict[str, str] = {
    "tpch_q6_forecast_revenue": """
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND CAST(l_discount AS DECIMAL(4,2)) >= CAST(0.05 AS DECIMAL(4,2))
          AND CAST(l_discount AS DECIMAL(4,2)) <= CAST(0.07 AS DECIMAL(4,2))
          AND l_quantity < 24
    """,
    "tpch_q7_volume_shipping": f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
               CAST(sum({_SQL_REV.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')}) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate < TIMESTAMP '1998-01-01'
          AND n1.n_name IN ('NATION_1', 'NATION_2')
          AND n2.n_name IN ('NATION_1', 'NATION_2')
          AND n1.n_name <> n2.n_name
        GROUP BY 1, 2, 3
    """,
    "tpch_q8_market_share": f"""
        WITH joined AS (
            SELECT year(o.o_orderdate) AS o_year,
                   n1.n_name AS supp_nation,
                   CAST({_SQL_REV.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')} AS DECIMAL(16,4)) AS rev
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
            JOIN region r ON n2.n_regionkey = r.r_regionkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
            WHERE p.p_type = 'ECONOMY' AND r.r_name = 'ASIA'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate < TIMESTAMP '1999-01-01'
        )
        SELECT CAST(o_year AS BIGINT) AS o_year,
               CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev
                             ELSE CAST(0 AS DECIMAL(16,4)) END) AS DOUBLE)
               / CAST(sum(rev) AS DOUBLE) AS mkt_share
        FROM joined GROUP BY 1
    """,
    "tpch_q9_product_profit": f"""
        SELECT n.n_name AS nation,
               CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               CAST(sum({_SQL_REV.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')}) AS DOUBLE) AS profit
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE p.p_name LIKE '%red%'
        GROUP BY 1, 2
    """,
    "tpch_q10_returned_items": f"""
        SELECT c_custkey, c_name, CAST(rev_dec AS DOUBLE) AS revenue,
               c_acctbal, n_name
        FROM (
            SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
                   sum({_SQL_REV.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')}) AS rev_dec
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE l.l_returnflag = 'R'
              AND o.o_orderdate >= TIMESTAMP '1996-10-01'
              AND o.o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY 1, 2, 3, 4
        ) ORDER BY rev_dec DESC, c_custkey LIMIT 20
    """,
    "tpch_q11_important_parts": """
        WITH per_part AS (
            SELECT l_partkey,
                   sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                            * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(20,4)))
                       AS value_dec
            FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE s.s_nationkey = 5
            GROUP BY l_partkey
        )
        SELECT l_partkey AS p_partkey, CAST(value_dec AS DOUBLE) AS part_value
        FROM per_part
        WHERE CAST(value_dec AS DECIMAL(30,8)) * CAST(1000 AS DECIMAL(10,0))
              > (SELECT CAST(sum(value_dec) AS DECIMAL(30,8)) FROM per_part)
    """,
    "tpch_q12_late_priority": """
        SELECT l_shipdate > o_orderdate + INTERVAL 90 DAY AS late,
               count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
                   AS high_line_count,
               count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
                   AS low_line_count
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY 1
    """,
    "tpch_q13_customer_distribution": """
        SELECT c_count, count(*) AS custdist FROM (
            SELECT c.c_custkey, count(o.o_orderkey) AS c_count
            FROM customer c LEFT JOIN orders o
              ON c.c_custkey = o.o_custkey
             AND o.o_orderpriority <> '4-NOT SPECIFIED'
            GROUP BY c.c_custkey
        ) GROUP BY c_count
    """,
    "tpch_q15_top_supplier": f"""
        WITH per_supp AS (
            SELECT l_suppkey,
                   sum({_SQL_REV}) AS rev_dec
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT l_suppkey AS s_suppkey, s_name,
               CAST(rev_dec AS DOUBLE) AS total_revenue
        FROM per_supp JOIN supplier ON l_suppkey = s_suppkey
        WHERE rev_dec = (SELECT max(rev_dec) FROM per_supp)
    """,
    "tpch_q17_small_quantity_revenue": """
        WITH lp AS (
            SELECT l_partkey, l_quantity, l_extendedprice
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_brand = 'Brand#23'
        ), avg_q AS (
            SELECT l_partkey AS a_partkey,
                   CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                   / count(*) * 0.2 AS qty_threshold
            FROM lp GROUP BY 1
        )
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
               / 7.0 AS avg_yearly
        FROM lp JOIN avg_q ON lp.l_partkey = avg_q.a_partkey
        WHERE lp.l_quantity < avg_q.qty_threshold
    """,
    "tpch_q19_disjunctive_revenue": f"""
        SELECT CAST(sum({_SQL_REV.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')}) AS DOUBLE) AS revenue
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 20 AND 30)
    """,
    "tpch_q20_promotion_suppliers": """
        SELECT l_suppkey AS s_suppkey, s_name,
               CAST(qty_dec AS DOUBLE) AS total_qty
        FROM (
            SELECT l_suppkey,
                   sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty_dec
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_type = 'SMALL'
              AND l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY l_suppkey
        ) JOIN supplier ON l_suppkey = s_suppkey
        WHERE qty_dec > CAST(300 AS DECIMAL(12,2))
    """,
    "tpch_q22_dormant_customers": """
        WITH avg_bal AS (
            SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                   / count(*) AS avg_bal
            FROM customer WHERE c_acctbal > 0
        )
        SELECT n_name, count(*) AS numcust,
               CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                   AS totacctbal
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE c.c_acctbal > (SELECT avg_bal FROM avg_bal)
          AND NOT EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY n_name
    """,
}

QUERIES = {
    "tpch_q6_forecast_revenue": tpch_q6_forecast_revenue,
    "tpch_q7_volume_shipping": tpch_q7_volume_shipping,
    "tpch_q8_market_share": tpch_q8_market_share,
    "tpch_q9_product_profit": tpch_q9_product_profit,
    "tpch_q10_returned_items": tpch_q10_returned_items,
    "tpch_q11_important_parts": tpch_q11_important_parts,
    "tpch_q12_late_priority": tpch_q12_late_priority,
    "tpch_q13_customer_distribution": tpch_q13_customer_distribution,
    "tpch_q15_top_supplier": tpch_q15_top_supplier,
    "tpch_q17_small_quantity_revenue": tpch_q17_small_quantity_revenue,
    "tpch_q19_disjunctive_revenue": tpch_q19_disjunctive_revenue,
    "tpch_q20_promotion_suppliers": tpch_q20_promotion_suppliers,
    "tpch_q22_dormant_customers": tpch_q22_dormant_customers,
}
