"""Association / co-occurrence mining over the order-lineitem basket
structure (SURVEY §2 extension family: the reference's analytics stop at
per-collection KPI counts; co-occurrence is the next query a dashboard
over transactional documents asks for).

Scale shape: pair generation is the classic quadratic trap. Both
operators here shuffle each basket ONCE (hash on the basket key), build
the per-basket item array map-side after that shuffle, and emit pairs
from the sorted, capped array — so the quadratic term is bounded by
BASKET_CAP**2 per basket regardless of data size, and the pair-count
aggregate combines map-side before its count-sized shuffle.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.parquet import load_table

# Deterministic per-basket cap: baskets are truncated to their
# BASKET_CAP smallest part keys before pairing. TPC-H-shaped orders have
# <= 7 lineitems, so the cap is inert on the oracle data; at 100 TB it
# is what keeps a pathological mega-basket from emitting 10^10 pairs.
BASKET_CAP = 50
MIN_PAIR_COUNT = 3
HEAVY_K = 5


def capped_basket_sql(table: str, basket_col: str, item_col: str,
                      cap: int = BASKET_CAP) -> str:
    """DuckDB CTE body mirroring copurchase_pairs' deterministic basket
    truncation: the ``cap`` smallest distinct items per basket. Every
    oracle that derives pairs/edges from copurchase_pairs embeds this so
    engine and oracle agree even when a basket exceeds the cap (ADVICE
    r4: previously the oracles were uncapped and parity silently relied
    on TPC-H baskets staying <= 7 items)."""
    return f"""
        SELECT {basket_col}, {item_col} FROM (
            SELECT {basket_col}, {item_col},
                   row_number() OVER (
                       PARTITION BY {basket_col} ORDER BY {item_col}
                   ) AS rn
            FROM (SELECT DISTINCT {basket_col}, {item_col} FROM {table})
        ) WHERE rn <= {cap}
    """


def copurchase_pairs(items, basket_col="l_orderkey", item_col="l_partkey",
                     min_count=MIN_PAIR_COUNT, cap=BASKET_CAP):
    """Generic co-occurrence pair counting over (basket, item) rows.

    Plan: one shuffle groups each basket's distinct items into a sorted
    array; pairs (a < b) are generated by array expressions inside that
    stage (never a row-level self-join, which would shuffle the items
    table twice and rejoin it on itself); the final aggregate shuffles
    (pair, partial-count) only. Baskets are truncated to their ``cap``
    smallest items first, bounding the quadratic term per basket."""
    baskets = (
        items.select(basket_col, item_col)
        .groupBy(basket_col)
        .agg(F.slice(F.array_sort(F.collect_set(item_col)), 1, cap)
             .alias("parts"))
    )
    pairs = F.flatten(
        F.transform(
            F.col("parts"),
            lambda a, i: F.transform(
                F.slice(F.col("parts"), i + 2, cap),
                lambda b: F.struct(a.alias("part_a"), b.alias("part_b")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.part_a").alias("part_a"), F.col("p.part_b").alias("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .where(F.col("n_orders") >= min_count)
    )


def capped_baskets(items, basket_col="l_orderkey", item_col="l_partkey",
                   cap=BASKET_CAP):
    """Distinct (basket, item) rows truncated to each basket's ``cap``
    smallest items — the shared frame behind copurchase_pairs and the
    association-rule marginals (both sides MUST see the same truncation
    or confidence/lift denominators drift from the pair counts)."""
    return (
        items.select(basket_col, item_col)
        .groupBy(basket_col)
        .agg(F.slice(F.array_sort(F.collect_set(item_col)), 1, cap)
             .alias("parts"))
        .select(basket_col, F.explode("parts").alias(item_col))
    )


def basket_association_rules(spark, sf_dir):
    """Directional association rules over the co-purchase baskets: for
    every ordered pair (antecedent -> consequent) co-bought in at least
    MIN_PAIR_COUNT orders, the classic market-basket triple — support
    (pair share of all baskets), confidence (pair share of the
    antecedent's baskets), lift (confidence over the consequent's base
    rate). Lift > 1 is the "customers who bought A actually prefer B"
    signal a recommender mines at 100 TB.

    Scale shape: pair counts come from the capped array-pairing plan
    (copurchase_pairs — one basket-keyed shuffle, quadratic term
    bounded by BASKET_CAP); item marginals and the basket total are
    item-/one-row-sized aggregates over the SAME capped frame,
    broadcast onto the pair frame (at part-catalog scale beyond
    broadcast, the marginal join degrades gracefully to a shuffle on
    item id). All ratios are single fp divisions of exact integer
    counts in identical operand order on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = copurchase_pairs(li)
    rules = pairs.select(
        F.col("part_a").alias("antecedent"),
        F.col("part_b").alias("consequent"),
        "n_orders",
    ).union(pairs.select(
        F.col("part_b").alias("antecedent"),
        F.col("part_a").alias("consequent"),
        "n_orders",
    ))
    capped = capped_baskets(li)
    marg = capped.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count("*").alias("n_item")
    )
    tot = capped.agg(F.count_distinct("l_orderkey").alias("n_baskets"))
    ma = marg.select(F.col("item").alias("antecedent"),
                     F.col("n_item").alias("n_ante"))
    mc = marg.select(F.col("item").alias("consequent"),
                     F.col("n_item").alias("n_cons"))
    return (
        rules.join(F.broadcast(ma), "antecedent")
        .join(F.broadcast(mc), "consequent")
        .crossJoin(F.broadcast(tot))
        .select(
            "antecedent", "consequent", "n_orders", "n_ante", "n_cons",
            F.round(
                F.col("n_orders").cast("double") / F.col("n_baskets"), 6
            ).alias("support"),
            F.round(
                F.col("n_orders").cast("double") / F.col("n_ante"), 6
            ).alias("confidence"),
            F.round(
                (F.col("n_orders") * F.col("n_baskets")).cast("double")
                / (F.col("n_ante") * F.col("n_cons")), 6
            ).alias("lift"),
        )
    )


def basket_copurchase_pairs(spark, sf_dir):
    """Market-basket pair counts: for every unordered pair of parts
    bought together in at least MIN_PAIR_COUNT orders, the number of
    co-occurrences. See ``copurchase_pairs`` for the plan shape."""
    li = load_table(spark, sf_dir, "lineitem")
    return copurchase_pairs(li)


def events_heavy_hitters(spark, sf_dir):
    """Exact heavy hitters: the HEAVY_K most active users per event
    type (count DESC, user_id ASC ties). Two-stage: per-(type, user)
    counts combine map-side; the top-K window then sorts only
    count-sized rows within each type partition."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(
        F.count("*").alias("n_events")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("n_events"), F.asc("user_id")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= HEAVY_K)
        .select("event_type", "user_id", "n_events",
                F.col("rk").cast("int").alias("rk"))
    )


def events_audience_overlap(spark, sf_dir):
    """Audience-overlap matrix: pairwise Jaccard similarity of the USER
    SETS behind each event type ("how much of the purchase audience
    also clicks?") — the segmentation query behind campaign targeting
    and funnel design.

    Scale shape: reuses the capped array-pairing plan (copurchase_pairs
    with user as the basket) — each user's distinct event types (<= 5)
    pair map-side after ONE user-keyed shuffle, never a row self-join
    of the events table; set sizes broadcast back onto the
    10-row pair frame."""
    ev = load_table(spark, sf_dir, "events")
    common = copurchase_pairs(
        ev, basket_col="user_id", item_col="event_type", min_count=1
    ).select(
        F.col("part_a").alias("type_a"),
        F.col("part_b").alias("type_b"),
        F.col("n_orders").alias("common_users"),
    )
    sizes = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users")
    )
    sa = sizes.select(F.col("event_type").alias("type_a"),
                      F.col("n_users").alias("users_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"),
                      F.col("n_users").alias("users_b"))
    return (
        common.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a", "type_b", "common_users", "users_a", "users_b",
            F.round(
                F.col("common_users").cast("double")
                / (F.col("users_a") + F.col("users_b") - F.col("common_users")),
                6,
            ).alias("jaccard"),
        )
    )


ORACLE_SQL = {
    # `common` pairs go through the capped basket (user = basket); the
    # audience sizes stay uncapped — mirroring the engine, where sizes
    # are computed from the raw events frame, not the pair generator.
    "events_audience_overlap": f"""
        WITH tu AS (
            {capped_basket_sql('events', 'user_id', 'event_type')}
        ), common AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   count(*) AS common_users
            FROM tu a JOIN tu b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY 1, 2
        ), sizes AS (
            SELECT event_type, count(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1
        )
        SELECT type_a, type_b, common_users,
               sa.n_users AS users_a, sb.n_users AS users_b,
               round(CAST(common_users AS DOUBLE)
                     / (sa.n_users + sb.n_users - common_users), 6) AS jaccard
        FROM common
        JOIN sizes sa ON sa.event_type = type_a
        JOIN sizes sb ON sb.event_type = type_b
    """,

    "basket_association_rules": f"""
        WITH parts AS (
            {capped_basket_sql('lineitem', 'l_orderkey', 'l_partkey')}
        ), pairs AS (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n
            FROM parts a JOIN parts b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING count(*) >= {MIN_PAIR_COUNT}
        ), rules AS (
            SELECT pa AS antecedent, pb AS consequent, n FROM pairs
            UNION ALL
            SELECT pb AS antecedent, pa AS consequent, n FROM pairs
        ), marg AS (
            SELECT l_partkey AS item, CAST(count(*) AS BIGINT) AS n_item
            FROM parts GROUP BY 1
        ), tot AS (
            SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_baskets
            FROM parts
        )
        SELECT antecedent, consequent, CAST(n AS BIGINT) AS n_orders,
               ma.n_item AS n_ante, mc.n_item AS n_cons,
               round(CAST(n AS DOUBLE) / n_baskets, 6) AS support,
               round(CAST(n AS DOUBLE) / ma.n_item, 6) AS confidence,
               round(CAST(n * n_baskets AS DOUBLE)
                     / (ma.n_item * mc.n_item), 6) AS lift
        FROM rules
        JOIN marg ma ON ma.item = antecedent
        JOIN marg mc ON mc.item = consequent
        CROSS JOIN tot
    """,
    "basket_copurchase_pairs": f"""
        WITH parts AS (
            {capped_basket_sql('lineitem', 'l_orderkey', 'l_partkey')}
        )
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS n_orders
        FROM parts a JOIN parts b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {MIN_PAIR_COUNT}
    """,
    "events_heavy_hitters": f"""
        WITH counts AS (
            SELECT event_type, user_id, count(*) AS n_events
            FROM events GROUP BY event_type, user_id
        ), ranked AS (
            SELECT event_type, user_id, n_events,
                   row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY n_events DESC, user_id ASC
                   ) AS rk
            FROM counts
        )
        SELECT event_type, user_id, n_events, CAST(rk AS INT) AS rk
        FROM ranked WHERE rk <= {HEAVY_K}
    """,
}

QUERIES = {
    "events_audience_overlap": events_audience_overlap,
    "basket_copurchase_pairs": basket_copurchase_pairs,
    "basket_association_rules": basket_association_rules,
    "events_heavy_hitters": events_heavy_hitters,
}
