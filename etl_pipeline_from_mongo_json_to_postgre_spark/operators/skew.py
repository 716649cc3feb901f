"""Skew mitigation operators (100 TB path).

A hot grouping/join key funnels its entire row mass through one
reducer; AQE's skew-join split handles the join case at runtime, but
aggregation skew and pre-AQE planning still want explicit salting:

- salted_groupby: two-phase aggregation — phase 1 groups on
  (key, salt) so a hot key spreads over ``n_salts`` reducers, phase 2
  folds the partials on the bare key. Correct for any algebraic
  aggregate expressed as (partial, merge) pairs; results are identical
  to the direct groupBy (pinned by DuckDB oracle below).
- salted_join: fact side gets a deterministic salt; the (small-ish but
  not broadcastable) dim side is exploded to every salt value, so each
  hot key's rows land on ``n_salts`` distinct reducers instead of one.

Salts are derived from stable row attributes (never rand()) so reruns
and retried tasks produce identical partitioning — a nondeterministic
salt breaks task retry exactly-once semantics at scale.

Guidance (r9 interleaved A/B, 12M-row fact / 50% hot key / SMJ
regime, numbers in BASELINE.md): for pure JOIN skew prefer AQE's
runtime split (spark.sql.adaptive.skewJoin.enabled — median 0.73 s vs
salted 1.54 s vs plain 2.02 s; it splits only the partitions that are
actually oversized and costs nothing when skew is absent), and reach
for salted_join only when AQE can't see the skew (pre-AQE planners,
non-shuffle inputs) — but AGGREGATION skew still needs salted_groupby:
AQE's skew handling applies to join reads, not groupBy reducers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..sources.parquet import load_table

N_SALTS = 16


def salted_groupby(
    df: DataFrame,
    keys: list[str],
    salt_from: Column,
    partials: list[tuple[Column, str]],
    finals: list[Column],
    n_salts: int = N_SALTS,
) -> DataFrame:
    """Two-phase salted aggregation.

    ``partials``: (expression, alias) computed per (keys, salt) group.
    ``finals``: expressions over the partial columns, computed per keys
    group. The phase-1 shuffle spreads each key over n_salts reducers;
    the phase-2 shuffle moves only |keys| x n_salts pre-aggregated rows.
    """
    salted = df.withColumn("__skew_salt", F.pmod(salt_from, F.lit(n_salts)))
    phase1 = salted.groupBy(*keys, "__skew_salt").agg(
        *[e.alias(a) for e, a in partials]
    )
    return phase1.groupBy(*keys).agg(*finals)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_from: Column,
    n_salts: int = N_SALTS,
) -> DataFrame:
    """Equi-join with the fact side salted and the dim side replicated
    across all salt values. Use when the dim is too big to broadcast
    and the fact's key distribution is skewed."""
    f = fact.withColumn("__skew_salt", F.pmod(salt_from, F.lit(n_salts)))
    d = dim.withColumn(
        "__skew_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return f.join(d, [key, "__skew_salt"]).drop("__skew_salt")


# ---------------------------------------------------------------------------
# Oracle-checked queries
# ---------------------------------------------------------------------------

def skew_salted_agg(spark, sf_dir):
    """lineitem has only 3 returnflag values — the worst-case skewed
    groupBy (every row funnels into 3 reducers). Salted two-phase
    aggregation computes count / sum / avg identically."""
    l = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    return salted_groupby(
        l,
        keys=["l_returnflag"],
        salt_from=F.col("l_orderkey"),
        partials=[
            (F.count("*"), "pc"),
            (F.sum(qty), "ps"),
        ],
        finals=[
            F.sum("pc").alias("cnt"),
            F.sum("ps").cast("double").alias("sum_qty"),
            (F.sum("ps").cast("double") / F.sum("pc")).alias("avg_qty"),
        ],
    )


def skew_salted_join(spark, sf_dir):
    """Orders ⋈ customer with the fact side salted and the dim
    replicated x16; per-segment revenue totals match the plain join."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(o, c, "c_custkey", salt_from=F.col("o_totalprice").cast("bigint"))
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("order_count"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


ORACLE_SQL = {
    "skew_salted_agg": """
        SELECT l_returnflag,
               count(*) AS cnt,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)
                   AS avg_qty
        FROM lineitem GROUP BY l_returnflag
    """,
    "skew_salted_join": """
        SELECT c.c_mktsegment,
               count(*) AS order_count,
               CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
    """,
}

QUERIES = {
    "skew_salted_agg": skew_salted_agg,
    "skew_salted_join": skew_salted_join,
}
