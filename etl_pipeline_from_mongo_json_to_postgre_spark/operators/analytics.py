"""Relational/analytics operator implementations (SURVEY.md §2 parity).

Every function takes (spark, sf_dir) and returns a DataFrame; the
matching DuckDB oracle SQL lives in ORACLE_SQL under the same key.
Column names/types are aligned between both sides (the driver's compare
is name-sorted + value-hashed).

Determinism discipline for oracle parity:
- double aggregations go through exact DECIMAL arithmetic, then CAST to
  DOUBLE at the end (FP summation order differs between engines);
- top-k queries always carry a unique tie-break key;
- timestamps compare under UTC sessions (session.SESSION_CONFS).

Scale notes are inline: broadcast hints on bounded dims, aggregate
pushdown before joins, no driver-side collects anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.parquet import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# §2.5 aggregations
# ---------------------------------------------------------------------------

def a1_pivot_status_count(spark, sf_dir):
    """A1: group-by + pivot + count (reference ui/audit_dashboard.py:106-114).

    Pivot values are pinned (no extra distinct scan job) — at 100 TB the
    value domain must be declared, never discovered.
    """
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0)
    )


def a2_group_count(spark, sf_dir):
    """A2: frequency count, sorted client-side-free
    (reference ui/audit_dashboard.py:187-192)."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(F.count("*").alias("cnt"))


def a3_conditional_count(spark, sf_dir):
    """A3: COUNT(*) FILTER per day (reference postgres_audit_repository.py:72-84)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy(F.to_date("o_orderdate").alias("order_day")).agg(
        F.count("*").alias("total_docs"),
        F.count(F.when(F.col("o_totalprice") > 1000, 1)).alias("high_value_docs"),
    )


def a4_scalar_count(spark, sf_dir):
    """A4: filtered scalar count (reference ui/run_pipeline.py:436-450)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.filter(F.col("o_totalprice") > 5000).agg(
        F.count("*").alias("cnt")
    )


def a5_max_date(spark, sf_dir):
    """A5: MAX(ts::date) latest-run lookup (reference ui/run_pipeline.py:453-469)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.agg(F.max(F.to_date("o_orderdate")).alias("latest_day"))


def a6_kpis(spark, sf_dir):
    """A6+A8: KPI counts + distinct count (reference ui/audit_dashboard.py:53-76)."""
    customer = _t(spark, sf_dir, "customer")
    return customer.agg(
        F.count("*").alias("total_rows"),
        F.countDistinct("c_mktsegment").alias("distinct_segments"),
        F.count(F.when(F.col("c_acctbal") > 0, 1)).alias("positive_balance"),
    )


def a8_distinct(spark, sf_dir):
    """A8: distinct non-null values (reference ui/audit_dashboard.py:69-71)."""
    customer = _t(spark, sf_dir, "customer")
    return (
        customer.select(F.col("c_mktsegment").alias("segment"))
        .where(F.col("segment").isNotNull())
        .distinct()
    )


def a11_grouping_sets(spark, sf_dir):
    """Arbitrary GROUPING SETS (the general form behind a9/a10's
    ROLLUP/CUBE), via the Spark SQL surface: per-(returnflag, linestatus)
    leaves plus per-linestatus totals — but NOT per-returnflag or grand
    totals — in one shuffle."""
    l = _t(spark, sf_dir, "lineitem")
    l.createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               grouping(l_returnflag) * 2 + grouping(l_linestatus) AS gid,
               count(*) AS cnt
        FROM lineitem_v
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus))
        """
    )


def a12_stats_agg(spark, sf_dir):
    """Statistical aggregates (extension): Pearson correlation, sample
    covariance, and sample stddev of quantity vs price per return flag.
    Map-side-combinable co-moment partials (count/sum/sum-of-products),
    one |groups|-row shuffle. Both engines use the same sample
    definitions; results are rounded past the partial-aggregation
    reorder noise (co-moments agree to ~1e-12 relative; display is 6
    decimals)."""
    l = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    p = F.col("l_extendedprice")
    return l.groupBy("l_returnflag").agg(
        F.round(F.corr(q, p), 6).alias("corr_qty_price"),
        F.round(F.covar_samp(q, p), 2).alias("covar_qty_price"),
        F.round(F.stddev_samp(p), 2).alias("stddev_price"),
    )


def approx_distinct_users_sketch_raw(spark, sf_dir):
    """The PRODUCTION approx-distinct query: HLL++ sketch only, no
    exact countDistinct anywhere in the plan — the shuffle carries
    |groups| fixed-size sketches regardless of cardinality, which is
    the entire point at 100 TB. Sketch values are engine-specific, so
    this raw form is census/test-pinned (tests/test_analytics_ext.py);
    the registry entry is the derived-oracle gate below."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"))
        .orderBy("event_type")
    )


def approx_distinct_users_sketch(spark, sf_dir):
    """Derived-oracle gate for the production sketch path (VERDICT r6
    task 4, the kmeans/pca/pagerank conversion): sketch estimates are
    engine-specific, so the driver-checked frame carries the group
    keys plus MERGE-CONSISTENCY booleans computed in-plan — the
    datasketches-HLL estimate from sketching all rows per type vs the
    estimate from union-merging per-shard sketches must agree within
    5% (sparse->dense promotion makes them a-few-counts different at
    larger cardinalities, so exact equality is NOT the invariant —
    measured w=1499 vs m=1495 at sf0.1). Mergeability is the property
    that makes sketches usable at 100 TB (partial aggregation,
    persisted shard sketches); the absolute error bound vs exact is
    the companion approx_distinct_users. NO exact countDistinct
    anywhere in this plan."""
    events = _t(spark, sf_dir, "events")
    whole = events.groupBy("event_type").agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(12))
        ).alias("est_whole")
    )
    merged = (
        events.withColumn("shard", F.pmod(F.xxhash64("user_id"), F.lit(8)))
        .groupBy("event_type", "shard")
        .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
        .groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_union_agg("sk", F.lit(False))
            ).alias("est_merged")
        )
    )
    close = (
        F.abs(F.col("est_merged") - F.col("est_whole")).cast("double")
        / F.col("est_whole") <= F.lit(0.05)
    )
    return (
        whole.join(merged, "event_type")
        .select(
            "event_type",
            close.alias("merge_consistent"),
            (F.col("est_whole") > 0).alias("estimate_positive"),
        )
        .orderBy("event_type")
    )


def approx_distinct_rollup(spark, sf_dir):
    """Mergeable-sketch rollup — the pattern that makes approximate
    distinct counts work at 100 TB: build one Datasketches HLL sketch
    per (event_type, day) partition, then MERGE the daily sketches up
    to per-type totals (hll_union_agg) instead of re-scanning raw
    rows. Daily sketches are what a production pipeline persists;
    any rollup (weekly, monthly, all-time) is then sketch-sized work.

    Driver-checkable contract (sketch bytes are engine-specific, like
    approx_distinct_users): emit the exact count plus within_bound =
    |merged-estimate - exact| / exact <= 5% (lgConfigK=12 => rsd
    ~1.6%, 3x margin); the oracle asserts TRUE."""
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk", F.lit(False))).alias("approx_users")
    )
    exact = events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return merged.join(exact, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users")
            <= F.lit(0.05)
        ).alias("within_bound"),
    )


def approx_distinct_rollup_sketch_raw(spark, sf_dir):
    """The PRODUCTION form of approx_distinct_rollup: daily sketches
    merged per type, NO exact count anywhere in the plan — the shuffle
    carries |days x types| fixed-size sketches, then |types| merged
    ones. Estimates are engine-specific, so this raw form is pinned by
    tests/test_approx.py (sketch-only plan + positive estimates); the
    registry entry is the derived-oracle gate below."""
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
    return (
        daily.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_union_agg("sk", F.lit(False))
            ).alias("approx_users")
        )
        .orderBy("event_type")
    )


def approx_distinct_rollup_sketch(spark, sf_dir):
    """Derived-oracle gate for the daily-sketch rollup (VERDICT r6
    task 4): the per-type estimate produced by MERGING the persisted
    daily sketches must agree within 5% with the estimate from one
    whole-data sketch — the rollup-correctness property a production
    pipeline relies on when it re-aggregates persisted daily sketches
    into weekly/monthly/all-time counts instead of re-scanning raw
    rows (exact equality is not the invariant: sparse->dense promotion
    differs along the two paths; measured d=1488 vs w=1499 at sf0.1).
    The frame the driver hash-checks is group keys + booleans DuckDB
    asserts TRUE; no exact countDistinct anywhere in the plan."""
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
    rolled = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(
            F.hll_union_agg("sk", F.lit(False))
        ).alias("est_rolled")
    )
    whole = events.groupBy("event_type").agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(12))
        ).alias("est_whole")
    )
    close = (
        F.abs(F.col("est_rolled") - F.col("est_whole")).cast("double")
        / F.col("est_whole") <= F.lit(0.05)
    )
    return (
        rolled.join(whole, "event_type")
        .select(
            "event_type",
            close.alias("rollup_consistent"),
            (F.col("est_rolled") > 0).alias("estimate_positive"),
        )
        .orderBy("event_type")
    )


def approx_distinct_users(spark, sf_dir):
    """HLL++ distinct-count VERIFICATION harness per event_type.

    Sketch outputs differ across engines, so the driver-checkable
    contract is the error bound itself: the query emits the exact count
    plus ``within_bound`` = |approx-exact|/exact <= 5% (rsd=0.01, so a
    5x margin), and the DuckDB oracle asserts TRUE. The exact
    countDistinct here is deliberate verification overhead — the scale
    path a production run ships is approx_distinct_users_sketch, which
    carries only the sketch."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
            F.count_distinct("user_id").alias("exact_users"),
            F.count("*").alias("events"),
        )
        .select(
            "event_type",
            "exact_users",
            "events",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                / F.col("exact_users")
                <= F.lit(0.05)
            ).alias("within_bound"),
        )
    )


_QUANTILE_LEVELS = [0.5, 0.95, 0.99]


def approx_value_quantiles(spark, sf_dir):
    """Approximate percentiles (Greenwald-Khanna) of the event value
    per type: mergeable fixed-size summaries instead of a full sort.
    Accuracy parameter 10000 => rank error <= max(1/10000, 1/n).

    Driver-checkable contract (GK's actual guarantee is on RANK, not
    value): explode the quantile array to (event_type, q) rows — scalar
    columns only; the driver's canonicalizer can't sort array cells —
    then rejoin the 15-row broadcast result against events to measure
    the achieved rank of each approximate value. ``rank_ok`` asserts
    frac(value < v) <= q + eps and frac(value <= v) >= q - eps.

    eps tracks the sketch's ACTUAL guarantee instead of a loose
    constant: the returned value is some element whose rank is within
    err*n of ceil(q*n) (err = 1/accuracy), which bounds frac_le >=
    q - err - 1/n and frac_lt <= q + err + 1/n — so eps = 1/accuracy
    + 2/n per group (the 2/n is the discrete-rank + tie margin). A
    real accuracy regression now fails instead of hiding inside a
    100x-too-wide band."""
    events = _t(spark, sf_dir, "events")
    vals = events.select("event_type", F.col("value").cast("double").alias("v"))
    qs = vals.groupBy("event_type").agg(
        F.percentile_approx("v", _QUANTILE_LEVELS, 10000).alias("qarr"),
        F.count("*").alias("n"),
    )
    levels = F.array(*[F.lit(q) for q in _QUANTILE_LEVELS])
    exploded = qs.select(
        "event_type",
        "n",
        F.posexplode("qarr").alias("pos", "approx_value"),
    ).select(
        "event_type",
        F.element_at(levels, F.col("pos") + 1).alias("q"),
        "approx_value",
        (F.lit(1.0 / 10000) + F.lit(2.0) / F.col("n")).alias("eps"),
    )
    joined = vals.join(F.broadcast(exploded), "event_type")
    return (
        joined.groupBy("event_type", "q")
        .agg(
            F.avg((F.col("v") <= F.col("approx_value")).cast("double")).alias("frac_le"),
            F.avg((F.col("v") < F.col("approx_value")).cast("double")).alias("frac_lt"),
            F.first("eps").alias("eps"),
        )
        .select(
            "event_type",
            "q",
            (
                (F.col("frac_le") >= F.col("q") - F.col("eps"))
                & (F.col("frac_lt") <= F.col("q") + F.col("eps"))
            ).alias("rank_ok"),
        )
    )


def a9_rollup_counts(spark, sf_dir):
    """Multi-level aggregation in ONE pass: ROLLUP over
    (status, priority) yields leaf counts, per-status subtotals, and the
    grand total from a single shuffle. The reference derives its summary
    levels with separate sequential passes over the same counters
    (reporting.py:36-58); at 100 TB each extra pass is a full rescan, so
    the rollup folding matters. grouping_id disambiguates subtotal rows
    from genuinely-NULL keys."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id("o_orderstatus", "o_orderpriority").alias("gid"),
            F.count("*").alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "cnt", "total_price")
    )


def a10_cube_counts(spark, sf_dir):
    """CUBE over (returnflag, linestatus): all four grouping
    combinations from one shuffle (same one-pass rationale as a9)."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id("l_returnflag", "l_linestatus").alias("gid"),
            F.count("*").alias("cnt"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "cnt", "sum_qty")
    )


# ---------------------------------------------------------------------------
# §2.4 joins
# ---------------------------------------------------------------------------

def j1_outer_join(spark, sf_dir):
    """J1: full outer equi-join of per-customer order aggregates vs the
    customer dim (reference postgres_audit_repository.py:91-96).

    Aggregate FIRST, join after — shrinks the shuffled side from
    |orders| to |customers| before the join (map-side combine applies).
    """
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    agg = orders.groupBy("o_custkey").agg(
        F.count("*").alias("order_count"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_spent"),
    )
    joined = customer.select("c_custkey", "c_name").join(
        agg, customer.c_custkey == agg.o_custkey, "full_outer"
    )
    return joined.select(
        F.coalesce("c_custkey", "o_custkey").alias("cust_key"),
        F.col("c_name"),
        F.coalesce("order_count", F.lit(0)).alias("order_count"),
        F.coalesce("total_spent", F.lit(0.0)).alias("total_spent"),
    )


def j2_lookup_join(spark, sf_dir):
    """J2: tiny-dim lookup join with fallback (reference
    postgres_audit_repository.py:41-45,62-67). region is broadcast —
    the 100 TB pattern for any bounded dimension."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        nation.join(
            F.broadcast(region),
            nation.n_regionkey == region.r_regionkey,
            "left",
        )
        .select(
            "n_nationkey",
            "n_name",
            F.coalesce("r_name", "n_name").alias("region_name"),
        )
    )


def j3_anti_join(spark, sf_dir):
    """J3: set difference as left_anti (reference pipeline.py:57-65)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def j4_semi_join(spark, sf_dir):
    """J4: set intersection as left_semi (reference ui/audit_dashboard.py:74)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# §2.6 explode / dedup / set ops / sorts
# ---------------------------------------------------------------------------

def u1_explode_words(spark, sf_dir):
    """U1+A2: array unnest + frequency (reference ui/audit_dashboard.py:178-192)."""
    documents = _t(spark, sf_dir, "documents")
    return (
        documents.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def u2_dedup_first(spark, sf_dir):
    """U2: deterministic dedup — keep the lowest event_id per key
    (reference drop_duplicates, postgres_audit_repository.py:68-70;
    made order-stable here, pandas kept first-seen row)."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("event_id")
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "value")
    )


def u3_set_except(spark, sf_dir):
    """U3: EXCEPT DISTINCT on key sets (reference set ops, pipeline.py:57-89)."""
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    return (
        customer.select(F.col("c_nationkey").alias("nationkey"))
        .distinct()
        .subtract(supplier.select(F.col("s_nationkey").alias("nationkey")).distinct())
    )


def o1_sort_topn(spark, sf_dir):
    """O1: global top-N with unique tie-break — TakeOrderedAndProject,
    no full sort shuffle (reference ORDER BY ... DESC,
    postgres_audit_repository.py:34)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.orderBy(
            F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
        )
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .limit(100)
    )


def o2_sort_multikey(spark, sf_dir):
    """O2: multi-key mixed-order sort w/ nulls-last (reference
    postgres_audit_repository.py:104-108)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_day"),
            "o_totalprice",
        )
        .orderBy(F.desc_nulls_last("order_day"), F.asc("o_orderkey"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# §2.3 filters + scalar functions
# ---------------------------------------------------------------------------

def p9_filter_eq(spark, sf_dir):
    """P9: equality row filter, pushed to the parquet scan."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )


def p10_size_filter(spark, sf_dir):
    """P10: size(array) predicate (reference jsonb_array_length > 0,
    postgres_audit_repository.py:76-79)."""
    documents = _t(spark, sf_dir, "documents")
    return (
        documents.select(
            "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("token_count")
        )
        .filter(F.col("token_count") > 50)
    )


def p11_positive_filter(spark, sf_dir):
    """P11: positive-count filter (reference ui/audit_dashboard.py:164-167)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return lineitem.filter(F.col("l_discount") > 0.05).select(
        "l_orderkey", "l_linenumber", "l_discount"
    )


def f5_json_extract(spark, sf_dir):
    """F5: JSON scalar extraction + aggregate (reference jsonb usage,
    postgres_audit_repository.py:78). get_json_object is JVM-side."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("k_sum"),
        F.count("*").alias("cnt"),
    )


# ---------------------------------------------------------------------------
# window / streaming-shaped aggregates (engine extensions, W1/§2.8)
# ---------------------------------------------------------------------------

def j5_asof_join(spark, sf_dir):
    """As-of join (training-pipeline extension; no Spark primitive):
    each purchase event joined to the user's most recent view event at
    or before it.

    Scale shape: NOT an inequality join (which degrades to a per-user
    cross product) — both sides union into one frame, ONE shuffle on
    user_id, and a last-non-null carry-forward window walks each user's
    timeline once. DuckDB oracle uses its native ASOF JOIN, so the
    operator semantics are pinned against a reference implementation.
    """
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    ).select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    # at equal ts the view sorts first -> "at or before" semantics
    order_tag = F.when(F.col("event_type") == "view", 0).otherwise(1)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", order_tag.asc(), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    view_id = F.last(
        F.when(F.col("event_type") == "view", F.col("event_id")), ignorenulls=True
    ).over(w)
    view_ts = F.last(
        F.when(F.col("event_type") == "view", F.col("ts_us")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("view_event_id", view_id)
        .withColumn("gap_us", F.col("ts_us") - view_ts)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts_us").alias("purchase_ts_us"),
            "view_event_id",
            "gap_us",
        )
    )


def a13_percent_of_total(spark, sf_dir):
    """Percent-of-total / ratio_to_report (extension): each nation's
    share of global order revenue with its rank. The window runs over
    the AGGREGATE OUTPUT (|nations| rows), which is the only place an
    unpartitioned window is scale-safe — the heavy lifting is the
    map-side-combined revenue aggregate below it; revenue sums are
    DECIMAL-exact before the share division."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    w_tot = Window.partitionBy()
    w_rank = Window.orderBy(F.desc("rev"), F.asc("n_name"))
    return rev.select(
        "n_name",
        F.col("rev").cast("double").alias("revenue"),
        F.round(F.col("rev") / F.sum("rev").over(w_tot), 6)
        .cast("double").alias("share"),
        F.row_number().over(w_rank).cast("int").alias("rk"),
    )


def orders_backlog_timeline(spark, sf_dir):
    """Event-sourcing running balance: daily open-order backlog =
    cumulative orders placed minus cumulative orders fully shipped
    (an order completes on its last lineitem's ship date). The pattern
    behind any inventory/queue-depth timeline.

    Scale shape: both daily series are map-side-combined counts (the
    per-order completion date is itself a max aggregate); the cumsum
    window runs over the DAY-cardinality merged series only — the same
    aggregate-then-window discipline as a13_percent_of_total."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    placed = (
        o.select(F.to_date("o_orderdate").alias("day"))
        .groupBy("day").agg(F.count("*").alias("placed"))
    )
    completed = (
        li.groupBy("l_orderkey")
        .agg(F.to_date(F.max("l_shipdate")).alias("day"))
        .groupBy("day").agg(F.count("*").alias("completed"))
    )
    merged = (
        placed.join(completed, "day", "outer")
        .select(
            "day",
            F.coalesce("placed", F.lit(0)).alias("placed"),
            F.coalesce("completed", F.lit(0)).alias("completed"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)
    return merged.select(
        "day", "placed", "completed",
        (F.sum("placed").over(w) - F.sum("completed").over(w))
        .alias("open_backlog"),
    )


def revenue_date_spine(spark, sf_dir):
    """Gap-filled daily revenue: a generated date spine (min..max order
    date) left-joined onto the daily aggregate, so days with no orders
    appear as explicit zero rows — the densification step every
    time-series chart/model needs (sparse aggregates silently skip
    days; downstream windows then compute wrong trailing stats).

    Scale shape: the spine is GENERATED (sequence over the 2-value
    min/max aggregate), never scanned; days are bounded (years x 365)
    regardless of corpus size, so the spine side broadcasts and the
    heavy side remains the map-side-combined daily aggregate."""
    o = _t(spark, sf_dir, "orders")
    daily = (
        o.select(F.to_date("o_orderdate").alias("day"),
                 F.col("o_totalprice").cast("decimal(18,2)").alias("p"))
        .groupBy("day")
        .agg(F.count("*").alias("n_orders"), F.sum("p").alias("rev"))
        # day-cardinality; materialized once so the spine's min/max and
        # the join side share ONE scan of orders (without the barrier
        # Catalyst plans a second full scan just to compute the bounds —
        # pinned in test_plans.py::test_date_spine_generated_not_scanned)
        .localCheckpoint(eager=True)
    )
    spine = (
        daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
        ).alias("day"))
    )
    return (
        spine.join(daily, "day", "left")
        .select(
            "day",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce(F.col("rev").cast("double"), F.lit(0.0)).alias("revenue"),
            (F.col("rev").isNotNull()).cast("int").alias("has_sales"),
        )
    )


PATH_LEN = 5
PATH_TOP_K = 10
PATH_GAP_US = 1_800_000_000


def session_top_paths(spark, sf_dir):
    """Session path mining: the PATH_TOP_K most common session-opening
    event-type sequences (first PATH_LEN events of each 30-min-gap
    session) — the "how do users start a session" report behind any
    navigation-flow diagram.

    Scale shape: sessionization is the one-window islands pass; the
    per-session path is built by sort_array over the session's
    (bounded: PATH_LEN after slice) struct list inside the same
    user-keyed aggregation, and path counting shuffles
    (path, partial-count) rows. Top-K is sort+limit."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("t_us")
    )
    w_ord = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    new_sess = F.when(
        F.col("prev_ts").isNull()
        | (F.col("t_us") - F.col("prev_ts") > PATH_GAP_US), 1
    ).otherwise(0)
    sess = (
        ev.withColumn("prev_ts", F.lag("t_us").over(w_ord))
        .withColumn("sess_no", F.sum(new_sess).over(w_cum))
    )
    paths = (
        sess.groupBy("user_id", "sess_no")
        .agg(
            F.array_join(
                F.transform(
                    F.slice(
                        F.array_sort(
                            F.collect_list(
                                F.struct("t_us", "event_id", "event_type")
                            )
                        ),
                        1, PATH_LEN,
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(PATH_TOP_K)
    )


def a14_time_rollup(spark, sf_dir):
    """Multi-granularity time rollup in ONE pass: daily, weekly, and
    monthly event counts + value sums via GROUPING SETS over
    pre-computed calendar columns — one shuffle serves all three
    granularities (Catalyst's Expand emits one row per grouping per
    input row, all partials map-side-combined) instead of three
    separate scans/aggregations. gid disambiguates the level."""
    events = _t(spark, sf_dir, "events")
    events.select(
        F.to_date("ts").alias("day"),
        F.to_date(F.date_trunc("week", "ts")).alias("week"),
        F.to_date(F.date_trunc("month", "ts")).alias("month"),
        F.col("value").cast("decimal(14,2)").alias("v"),
    ).createOrReplaceTempView("ev_cal_v")
    return spark.sql(
        """
        SELECT day, week, month,
               grouping(day) * 4 + grouping(week) * 2 + grouping(month) AS gid,
               count(*) AS cnt,
               CAST(sum(v) AS DOUBLE) AS value_sum
        FROM ev_cal_v
        GROUP BY GROUPING SETS ((day), (week), (month))
        """
    )


def supplier_region_mix(spark, sf_dir):
    """Full-star geographic rollup: supplier count, lineitem revenue,
    and revenue share per region (q5's shape without its region
    filter — every region in one pass). The fact aggregate collapses
    to supplier cardinality before touching any dimension; supplier →
    nation → region are broadcast chained; the share derives from the
    5-row region rollup itself (no second fact scan)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev")
    )
    regional = (
        per_supp.join(F.broadcast(s), per_supp.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.sum("rev").alias("rev"),
        )
        .localCheckpoint(eager=True)  # 5 rows; share derives from it
    )
    total = regional.agg(F.sum("rev").alias("total"))
    return (
        regional.crossJoin(F.broadcast(total))
        .select(
            "r_name", "n_suppliers",
            F.col("rev").cast("double").alias("revenue"),
            F.round(F.col("rev") / F.col("total"), 6)
            .cast("double").alias("revenue_share"),
        )
    )


def segment_reorder_cadence(spark, sf_dir):
    """Repeat-purchase cadence per market segment: the distribution of
    gaps between a customer's consecutive orders (median / p90 days),
    joined to the customer dimension for the segment rollup. The gap
    window shuffles once on custkey; the percentile aggregate carries
    integer day gaps keyed by 5 segments; the segment attribute rides
    a broadcast-joined dimension."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    gaps = (
        o.select("o_custkey", F.to_date("o_orderdate").alias("od"),
                 "o_orderkey")
        .withColumn("prev_od", F.lag("od").over(
            Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")))
        .where(F.col("prev_od").isNotNull())
        .select("o_custkey", F.datediff("od", "prev_od").alias("gap_days"))
    )
    return (
        gaps.join(F.broadcast(c), gaps.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_gaps"),
            F.expr("percentile(gap_days, 0.5)").alias("p50_gap_days"),
            F.expr("percentile(gap_days, 0.9)").alias("p90_gap_days"),
            F.max("gap_days").alias("max_gap_days"),
        )
    )


def p13_unpivot_melt(spark, sf_dir):
    """UNPIVOT / melt (the inverse of A1's pivot): wide per-line
    measure columns become (metric, value) rows via the native
    ``DataFrame.unpivot`` — a zero-shuffle Expand in the scan stage
    (row count x n_measures, but each output row carries 3 columns,
    and downstream per-metric aggregates combine map-side). Aggregated
    here to a per-metric census so the oracle output stays bounded."""
    l = _t(spark, sf_dir, "lineitem")
    melted = l.select(
        "l_orderkey", "l_linenumber",
        F.col("l_quantity").cast("double").alias("quantity"),
        F.col("l_extendedprice").cast("double").alias("extendedprice"),
        F.col("l_discount").cast("double").alias("discount"),
    ).unpivot(
        ["l_orderkey", "l_linenumber"],
        ["quantity", "extendedprice", "discount"],
        "metric",
        "value",
    )
    return melted.groupBy("metric").agg(
        F.count("*").alias("n_values"),
        F.round(F.min("value"), 2).alias("min_value"),
        F.round(F.max("value"), 2).alias("max_value"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
        .alias("value_sum"),
    )


def orders_monthly_growth(spark, sf_dir):
    """Month-over-month revenue growth: monthly DECIMAL-exact revenue,
    previous month via lag, growth rate as a rounded ratio. The
    lag/ratio window runs over the month-cardinality aggregate output
    (~tens of rows for years of data) — the aggregate-then-window
    discipline again; NULL growth on the first month, not a fake 0."""
    o = _t(spark, sf_dir, "orders")
    monthly = (
        o.select(
            F.to_date(F.date_trunc("month", "o_orderdate")).alias("month"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        )
        .groupBy("month")
        .agg(F.count("*").alias("n_orders"), F.sum("p").alias("rev"))
    )
    w = Window.orderBy("month")
    prev = F.lag("rev").over(w)
    return monthly.select(
        "month",
        "n_orders",
        F.col("rev").cast("double").alias("revenue"),
        F.round(
            (F.col("rev") - prev) / prev, 6
        ).cast("double").alias("mom_growth"),
    )


def part_abc_classification(spark, sf_dir):
    """ABC / Pareto classification: parts ranked by revenue, classified
    A (first 80% of cumulative revenue), B (to 95%), C (tail) — the
    inventory-policy census. The rank/cumsum window runs over the
    AGGREGATE OUTPUT (per-part revenue); class boundaries compare
    EXACT DECIMALS (cum*100 <= total*80), so no float boundary can
    disagree between engines."""
    l = _t(spark, sf_dir, "lineitem")
    rev = l.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev")
    # part-cardinality; materialized once so the grand total and the
    # rank/cumsum branch share ONE lineitem scan (without the barrier
    # Catalyst plans the fact-table scan twice — pinned in
    # test_plans.py::test_abc_single_fact_scan)
    ).localCheckpoint(eager=True)
    w_rank = Window.orderBy(F.desc("rev"), F.asc("l_partkey"))
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    total = rev.agg(F.sum("rev").alias("total"))
    staged = (
        rev.withColumn("rk", F.row_number().over(w_rank))
        .withColumn("cum_rev", F.sum("rev").over(w_cum))
        .crossJoin(F.broadcast(total))
    )
    abc = (
        F.when(F.col("cum_rev") * 100 <= F.col("total") * 80, "A")
        .when(F.col("cum_rev") * 100 <= F.col("total") * 95, "B")
        .otherwise("C")
    )
    return staged.groupBy(abc.alias("abc_class")).agg(
        F.count("*").alias("n_parts"),
        F.sum("rev").cast("double").alias("class_revenue"),
    )


H2D_Q_BUCKETS = 10
H2D_D_BUCKETS = 5


def lineitem_2d_histogram(spark, sf_dir):
    """Two-dimensional banded census: (quantity bucket x discount
    bucket) cell counts — the joint-distribution view a 1-D histogram
    (dq_histogram) can't show. Both bucket ids are pure width_bucket
    arithmetic on the scan; one map-side-combined aggregate carries
    50 cells regardless of row count."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.select(
            F.width_bucket(F.col("l_quantity"), F.lit(0.0), F.lit(50.0),
                           F.lit(H2D_Q_BUCKETS)).alias("qty_bucket"),
            F.width_bucket(F.col("l_discount"), F.lit(0.0), F.lit(0.1),
                           F.lit(H2D_D_BUCKETS)).alias("disc_bucket"),
        )
        .groupBy("qty_bucket", "disc_bucket")
        .agg(F.count("*").alias("cnt"))
    )


def part_brand_type_pmi(spark, sf_dir):
    """Pointwise mutual information between part brand and type:
    lift = P(brand, type) / (P(brand) P(type)), PMI = ln(lift) —
    which brand/type combinations co-occur beyond chance. Joint cells
    and both marginals are count-sized aggregates off one scan (the
    joint frame re-aggregates into each marginal, so the part table is
    read once); marginals broadcast back onto the cells."""
    p = _t(spark, sf_dir, "part")
    # cell-cardinality; both marginals + the total + the final join all
    # derive from it — barrier = one part-table scan, not four
    joint = p.groupBy("p_brand", "p_type").agg(
        F.count("*").alias("n_bt")
    ).localCheckpoint(eager=True)
    brand = joint.groupBy("p_brand").agg(F.sum("n_bt").alias("n_b"))
    ptype = joint.groupBy("p_type").agg(F.sum("n_bt").alias("n_t"))
    total = joint.agg(F.sum("n_bt").cast("double").alias("n"))
    lift = (F.col("n_bt") * F.col("n")) / (F.col("n_b") * F.col("n_t"))
    return (
        joint.join(F.broadcast(brand), "p_brand")
        .join(F.broadcast(ptype), "p_type")
        .crossJoin(F.broadcast(total))
        .select(
            "p_brand", "p_type", "n_bt",
            F.round(lift, 6).alias("lift"),
            F.round(F.log(lift), 6).alias("pmi"),
        )
    )


def events_user_gini(spark, sf_dir):
    """Gini coefficient of per-user activity — the single-number
    concentration index behind "is our traffic a few whales or a broad
    base". Computed from the rank formula
    G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over ascending per-user
    counts: the rank window runs over the AGGREGATE OUTPUT
    (user-cardinality counts, the aggregate-then-window discipline);
    every term is exact integer until the final division — with each
    rank product COMPUTED in DECIMAL(38,0), not just accumulated (r11
    ADVICE: casting only sum()'s argument still multiplies i*x in
    BIGINT first, so one term past 2^63 — huge per-user count at high
    rank — wraps silently under ANSI-off; the factor cast makes the
    multiply itself decimal, and the oracle mirrors with HUGEINT so
    both engines promote before the product). At extreme user counts swap the exact
    rank for quantile-bucketed Lorenz points (same aggregates, bounded
    sort)."""
    events = _t(spark, sf_dir, "events")
    counts = events.groupBy("user_id").agg(F.count("*").alias("x"))
    w = Window.orderBy(F.asc("x"), F.asc("user_id"))
    ranked = counts.withColumn("i", F.row_number().over(w))
    dec = "decimal(38,0)"
    return ranked.agg(
        F.count("*").alias("n_users"),
        F.round(
            # (2.0 * S) / D, left-assoc like the oracle's double math
            F.lit(2.0)
            * F.sum(F.col("i").cast(dec) * F.col("x")).cast("double")
            / (F.count("*") * F.sum(F.col("x").cast(dec))).cast("double")
            - (F.count("*") + 1) / F.count("*"),
            6,
        ).alias("gini"),
    )


def a15_mode_agg(spark, sf_dir):
    """Deterministic MODE aggregate: the most frequent l_quantity per
    return flag, ties broken by the smallest value (engine-native
    mode() returns an ARBITRARY tie member — useless for reproducible
    pipelines, so the engine ships the two-stage form: value counts
    combine map-side, then a rank-1 window over count-sized rows)."""
    l = _t(spark, sf_dir, "lineitem")
    counts = l.groupBy("l_returnflag", "l_quantity").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("cnt"), F.asc("l_quantity")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_qty"),
            F.col("cnt").alias("mode_count"),
        )
    )


def events_daily_ohlc(spark, sf_dir):
    """Daily OHLC bars per event type (open/high/low/close of value) —
    the canonical time-series downsampling. Open/close are the first/
    last event's value under deterministic (ts, event_id) order,
    computed as MIN/MAX over (t_us, event_id, value) structs — struct
    ordering makes first/last ordinary map-side-combinable aggregates,
    so the whole bar is ONE shuffle of per-group partials (no window,
    no second pass)."""
    events = _t(spark, sf_dir, "events")
    staged = events.select(
        F.to_date("ts").alias("day"),
        "event_type",
        F.struct(
            F.unix_micros("ts").alias("t"),
            F.col("event_id").alias("e"),
            F.col("value").alias("v"),
        ).alias("s"),
        "value",
    )
    return staged.groupBy("day", "event_type").agg(
        F.min("s").getField("v").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max("s").getField("v").alias("close"),
        F.count("*").alias("n_events"),
    )


def ship_latency_profile(spark, sf_dir):
    """Cross-table latency profile: order-to-ship lag (days) per order
    priority — median/p95/max plus the late-rate beyond a fixed SLA.
    The fact-fact join is orderkey-equi (lineitem streams, orders
    pre-projected to two columns); the exact percentile shuffle
    carries integer day lags keyed by the 5 priorities (swap in
    percentile_approx at 100 TB — cf. dq_histogram_equidepth)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.to_date("o_orderdate").alias("od")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.to_date("l_shipdate").alias("sd")
    )
    lag = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "o_orderpriority",
            F.datediff("sd", "od").alias("lag_days"),
        )
    )
    return lag.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.expr("percentile(lag_days, 0.5)").alias("p50_days"),
        F.expr("percentile(lag_days, 0.95)").alias("p95_days"),
        F.max("lag_days").alias("max_days"),
        F.round(
            F.count(F.when(F.col("lag_days") > 90, 1)) / F.count("*"), 6
        ).alias("late_rate_90d"),
    )


def events_dow_hour_heatmap(spark, sf_dir):
    """Weekday x hour activity heatmap (the load-pattern census behind
    capacity planning / anomaly baselines): counts and exact decimal
    value sums per (weekday, hour) cell. Pure calendar projection +
    one 168-cell map-side-combined aggregate. Weekday is Monday=0 in
    both engines (Spark ``weekday``, DuckDB ``isodow - 1``)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.select(
            F.weekday("ts").alias("dow"),
            F.hour("ts").alias("hour"),
            F.col("value").cast("decimal(14,2)").alias("v"),
        )
        .groupBy("dow", "hour")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("v").cast("double").alias("value_sum"),
        )
    )


def json_key_census(spark, sf_dir):
    """Schema-drift census over semi-structured payloads: for every key
    appearing in the events ``props`` JSON, how many documents carry it
    and its presence share — the report that catches producers silently
    adding/dropping fields (the reference's missing-column audit is the
    per-MAPPING view; this is the unmapped-payload view).

    Scale shape: json_object_keys is a per-row expression, the explode
    emits (key) tokens only, and the census is a map-side-combined
    count; the total is a 1-row broadcast."""
    events = _t(spark, sf_dir, "events")
    with_keys = events.where(F.col("props").isNotNull()).select(
        F.explode(F.json_object_keys("props")).alias("key")
    )
    total = events.where(F.col("props").isNotNull()).agg(
        F.count("*").cast("double").alias("n_docs")
    )
    return (
        with_keys.groupBy("key")
        .agg(F.count("*").alias("n_docs_with_key"))
        .crossJoin(F.broadcast(total))
        .select(
            "key", "n_docs_with_key",
            F.round(F.col("n_docs_with_key") / F.col("n_docs"), 6)
            .alias("presence_share"),
        )
    )


RFM_QUINTILES = (0.2, 0.4, 0.6, 0.8)


def customer_rfm_scores(spark, sf_dir):
    """RFM (recency / frequency / monetary) customer scoring: per
    customer aggregates, then a 1-5 score per dimension by corpus-wide
    quintile thresholds.

    Scale shape: scores come from PERCENTILE THRESHOLDS broadcast back
    onto the aggregate (4 doubles per dimension), NOT ntile — a global
    ntile would funnel every customer through one unpartitioned window
    sort. score = 1 + #thresholds strictly below the metric: pure
    array arithmetic, identical tie semantics in both engines, and the
    thresholds are bit-equal (same interpolation on same inputs — cf.
    corpus_length_trim)."""
    o = _t(spark, sf_dir, "orders")
    agg = o.groupBy("o_custkey").agg(
        F.unix_date(F.max("o_orderdate").cast("date")).alias("r_days"),
        F.count("*").alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").alias("monetary"),
    )
    probs = "array(" + ", ".join(str(p) for p in RFM_QUINTILES) + ")"
    bounds = agg.agg(
        F.expr(f"percentile(r_days, {probs})").alias("rb"),
        F.expr(f"percentile(freq, {probs})").alias("fb"),
        F.expr(f"percentile(monetary, {probs})").alias("mb"),
    )

    def _score(col, bnds):
        return (
            F.size(F.filter(bnds, lambda b: F.col(col) > b)) + 1
        ).cast("int")

    return (
        agg.crossJoin(F.broadcast(bounds))
        .select(
            "o_custkey",
            "r_days", "freq", "monetary",
            _score("r_days", F.col("rb")).alias("r_score"),
            _score("freq", F.col("fb")).alias("f_score"),
            _score("monetary", F.col("mb")).alias("m_score"),
        )
    )


def tpch_q2_argmin_supplier(spark, sf_dir):
    """Q2-shaped argmin join: for every part, the supplier row that
    achieves its minimum price (Q2's correlated MIN subquery re-shaped
    as a rank-1 window — one shuffle on the group key, no re-join of
    the fact table against its own aggregate). Ties break on supplier
    key, making the argmin row deterministic."""
    l = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey").orderBy(
        "l_extendedprice", "l_suppkey", "l_orderkey", "l_linenumber"
    )
    return (
        l.select("l_partkey", "l_suppkey", "l_extendedprice",
                 "l_orderkey", "l_linenumber")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "l_partkey",
            F.col("l_suppkey").alias("cheapest_suppkey"),
            F.col("l_extendedprice").alias("min_price"),
        )
    )


def j5b_asof_join_forward(spark, sf_dir):
    """Forward as-of join: each view event joined to the user's NEXT
    purchase strictly after it — the mirror of j5 (backward as-of),
    via the same union + carry window walked in reverse order. Same
    single-shuffle scale shape; DuckDB oracle is the inequality-min
    form (exact but fine at oracle scale)."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    ).select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    # walk the timeline descending; at equal ts the view sorts FIRST so
    # a same-instant purchase is NOT in the view's preceding frame —
    # "strictly after" holds by frame construction, not a post-filter
    # (a post-filter would wrongly drop views whose nearest purchase is
    # same-instant even when a strictly-later purchase exists)
    order_tag = F.when(F.col("event_type") == "view", 0).otherwise(1)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts_us"), order_tag.asc(), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nxt_id = F.last(
        F.when(F.col("event_type") == "purchase", F.col("event_id")),
        ignorenulls=True,
    ).over(w)
    nxt_ts = F.last(
        F.when(F.col("event_type") == "purchase", F.col("ts_us")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("next_purchase_id", nxt_id)
        .withColumn("wait_us", nxt_ts - F.col("ts_us"))
        .where(F.col("event_type") == "view")
        .where(F.col("next_purchase_id").isNotNull())
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts_us").alias("view_ts_us"),
            "next_purchase_id",
            "wait_us",
        )
    )


SESSION_GAP_US = 1_800_000_000       # 30 min gaps-and-islands gap
INTERVAL_BUCKET_US = 1_800_000_000   # containment-join bucket width


def j7_interval_join(spark, sf_dir):
    """Point-in-interval (temporal) join (training-pipeline extension;
    no Spark primitive): each purchase joined to the user's BROWSING
    session (gaps-and-islands over view events, 30-min gap) whose
    [start, end] interval contains the purchase timestamp.

    Scale shape: NOT the naive inequality join (start <= ts AND
    ts <= end degrades to a per-user cross product). Sessions explode
    into the time buckets they cover (sequence of floor(t/W) — bounded
    by span/W rows per interval), purchases emit their single bucket,
    and the equi-join on (user_id, bucket) prunes candidates to
    same-bucket pairs before the exact containment filter. Disjoint
    sessions + single-bucket probes mean each qualifying pair matches
    exactly once — no dedup pass. The session build itself is one
    user-keyed window pass (same island pattern as inc_scd2_intervals).
    """
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    views = ev.where(F.col("event_type") == "view")
    w_ord = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    new_sess = F.when(
        F.col("prev_ts").isNull()
        | (F.col("ts_us") - F.col("prev_ts") > SESSION_GAP_US),
        1,
    ).otherwise(0)
    sessions = (
        views.withColumn("prev_ts", F.lag("ts_us").over(w_ord))
        .withColumn("sess_no", F.sum(new_sess).over(w_cum))
        .groupBy("user_id", "sess_no")
        .agg(
            F.min("ts_us").alias("start_us"),
            F.max("ts_us").alias("end_us"),
            F.count("*").alias("n_views"),
        )
    )
    covered = sessions.select(
        "user_id", "start_us", "end_us", "n_views",
        F.explode(
            F.sequence(
                F.floor(F.col("start_us") / INTERVAL_BUCKET_US),
                F.floor(F.col("end_us") / INTERVAL_BUCKET_US),
            )
        ).alias("bucket"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts_us").alias("p_ts"),
        F.floor(F.col("ts_us") / INTERVAL_BUCKET_US).alias("bucket"),
    )
    return (
        purchases.join(covered, ["user_id", "bucket"])
        .where(F.col("p_ts").between(F.col("start_us"), F.col("end_us")))
        .select("purchase_id", "user_id", "p_ts", "start_us", "end_us", "n_views")
    )


RANGE_JOIN_WINDOW_US = 3_600_000_000  # 1 hour


def j6_range_join(spark, sf_dir):
    """Range join (training-pipeline extension): pairs of a user's
    events within 1 hour of each other.

    Scale shape: NOT the naive inequality join (per-user cross
    product). Both sides bucket by floor(ts/window); the left emits its
    own bucket, the right explodes into {b-1, b, b+1}; the equi-join on
    (user_id, bucket) bounds candidates to adjacent buckets and the
    exact |gap| <= window filter runs after. Each qualifying pair
    matches in exactly ONE (left-bucket) key, so no dedup pass is
    needed. At 100 TB the bucket key shards the shuffle uniformly in
    time; per-bucket skew (hot users) is AQE's skew-join case.
    """
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    bucket = F.floor(F.col("ts_us") / RANGE_JOIN_WINDOW_US)
    left = ev.select(
        "user_id",
        F.col("event_id").alias("a_id"),
        F.col("ts_us").alias("a_ts"),
        bucket.alias("b"),
    )
    right = ev.select(
        "user_id",
        F.col("event_id").alias("b_id"),
        F.col("ts_us").alias("b_ts"),
        F.explode(F.array(bucket - 1, bucket, bucket + 1)).alias("b"),
    )
    return (
        left.join(right, ["user_id", "b"])
        .where(
            (F.col("a_id") < F.col("b_id"))
            & (F.abs(F.col("a_ts") - F.col("b_ts")) <= RANGE_JOIN_WINDOW_US)
        )
        .select(
            "user_id", "a_id", "b_id",
            F.abs(F.col("a_ts") - F.col("b_ts")).alias("gap_us"),
        )
    )


def w1_running_total(spark, sf_dir):
    """Window extension: per-customer running order total. Exact DECIMAL
    inside the frame, DOUBLE out."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).alias("rn"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
    )


def w2_offset_rank_funcs(spark, sf_dir):
    """Window extension breadth: lag / lead / dense_rank / ntile over
    the same per-customer ordered frame (one shuffle + one sort serves
    all four — Spark collapses same-spec window functions into a
    single Window operator)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.dense_rank().over(w).alias("drank"),
        F.ntile(4).over(w).alias("quartile"),
    )


def w3_distribution_funcs(spark, sf_dir):
    """Window distribution breadth: percent_rank / cume_dist (value
    position within the user's own purchase distribution) plus
    last_value IGNORE NULLS (most recent high-value event carried
    forward). One hash shuffle on user_id serves every function; the
    two ordering specs (by value, by time) share the Exchange and
    differ only in their local sorts."""
    events = _t(spark, sf_dir, "events")
    # NULLS FIRST pinned explicitly on both engines (r10 review: Spark
    # defaults ascending NULLS FIRST, DuckDB NULLS LAST — a NULL value
    # would shift every percent_rank/cume_dist in its partition)
    w_val = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_first("value"), "event_id"
    )
    w_time = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    big = F.when(F.col("value") > 400, F.col("value"))
    return events.select(
        "event_id",
        "user_id",
        F.percent_rank().over(w_val).alias("pr"),
        F.cume_dist().over(w_val).alias("cd"),
        F.last(big, ignorenulls=True).over(w_time).alias("last_big_value"),
    )


def u5_except_all(spark, sf_dir):
    """EXCEPT ALL (multiset difference, duplicate-count-aware) — the
    bag-semantics sibling of u3: each nationkey survives
    max(count_customer - count_supplier, 0) times. Planned as a
    count-tagged aggregate join, one shuffle per side."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.exceptAll(s)


def tumbling_window_agg(spark, sf_dir):
    """Batch twin of the streaming tumbling-window aggregation
    (streaming/events.py runs the same plan via readStream)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("value_sum"),
        )
        .select(F.col("w.start").alias("window_start"), "cnt", "value_sum")
    )


def sliding_window_agg(spark, sf_dir):
    """Sliding-window aggregation (1-hour window, 30-min slide): each
    event lands in window_size/slide = 2 windows. Spark's F.window
    handles the fan-out natively (epoch-aligned window starts); the
    oracle reproduces it by exploding each event into its k member
    windows. Streaming twin: swap the scan for readStream — the plan is
    unchanged (windowed_counts in streaming/events.py takes the window
    spec as an argument)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("value_sum"),
        )
        .select(F.col("w.start").alias("window_start"), "cnt", "value_sum")
    )


# ---------------------------------------------------------------------------
# TPC-H-style scale queries (bench headliners)
# ---------------------------------------------------------------------------

def tpch_q1_pricing_summary(spark, sf_dir):
    """Q1-shaped pricing summary: 2-key groupBy, 7 aggregates, exact
    decimal math. Partial aggregation (map-side combine) does the heavy
    lifting; shuffle carries only |groups| rows.

    fan_out (r13 optimization round): the testdata lineitem parquet has
    3 row groups, so the scan — and with it the decimal-heavy partial
    aggregation — ran 3 tasks wide on 32 cores. The round-robin
    repartition moves the raw rows once and buys full-core partial
    aggregation (measured 1.72 -> 1.55 s at sf0.1); on a pre-split
    cluster table it no-ops. The shipdate predicate still pushes below
    the repartition to the scan (deterministic filters reorder past
    round-robin exchanges)."""
    from ..sources.parquet import fan_out

    l = fan_out(spark, _t(spark, sf_dir, "lineitem"))
    qty = F.col("l_quantity").cast("decimal(12,2)")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2024-10-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1).cast("decimal(4,2)") - disc))
            .cast("double")
            .alias("sum_disc_price"),
            F.sum(
                price
                * (F.lit(1).cast("decimal(4,2)") - disc)
                * (F.lit(1).cast("decimal(4,2)") + tax)
            )
            .cast("double")
            .alias("sum_charge"),
            # avg = double(exact sum) / count: ONE fp division with
            # identical operands on both engines (decimal division would
            # round at engine-specific scales)
            (F.sum(qty).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(price).cast("double") / F.count("*")).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


def tpch_q3_shipping_priority(spark, sf_dir):
    """Q3-shaped: filter + 3-way join + agg + deterministic top-10.
    Filters applied before joins so Catalyst pushes them to the scans."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", F.to_date("o_orderdate").alias("order_day"))
        .agg(F.sum(rev).alias("rev_dec"))
    )
    return (
        joined.orderBy(F.desc("rev_dec"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            "order_day",
            F.col("rev_dec").cast("double").alias("revenue"),
        )
    )


def tpch_q5_local_supplier_volume(spark, sf_dir):
    """Q5-shaped: 6-table join; bounded dims (region/nation) broadcast,
    fact-to-fact joins shuffle on their keys."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    dim = (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("n_nationkey", "n_name")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .filter(c.c_nationkey == s.s_nationkey)
        .join(F.broadcast(dim), s.s_nationkey == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


def tpch_q14_promo_revenue(spark, sf_dir):
    """Q14-shaped: date-filtered fact ⋈ part dim, conditional revenue
    share. The shipdate filter reaches the lineitem scan; the part side
    carries only (p_partkey, p_type) after pruning. Exact decimal sums;
    ONE double division at the end keeps both engines bit-identical."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("2024-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2024-06-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    zero = F.lit(0).cast("decimal(14,4)")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type").like("ECO%"), rev).otherwise(zero))
                .cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


def u4_set_intersect(spark, sf_dir):
    """U3 completion: INTERSECT (nations having both customers and
    suppliers) — planned as an aggregate + semi-join, no full sort."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s)


def tpch_q18_large_orders(spark, sf_dir):
    """Q18-shaped: HAVING-filtered aggregate drives a semi-join back to
    the fact rows, then a deterministic top-k. The qualifying-orders set
    is computed FIRST (one map-side-combined agg over lineitem) so the
    subsequent joins touch only qualifying keys — never the reverse
    order, which would join everything and filter last."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("total_qty_dec"))
        .where(F.col("total_qty_dec") > 150)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_day"),
            "o_totalprice",
            F.col("total_qty_dec").cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


def scalar_subquery_above_avg(spark, sf_dir):
    """Scalar-subquery filter: orders above the global average price.
    The 1-row aggregate is broadcast into the filter (crossJoin of a
    singleton — Spark plans it as a BroadcastNestedLoopJoin), so the
    fact side streams once with no shuffle."""
    o = _t(spark, sf_dir, "orders")
    avg_price = o.agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count("*")
        ).alias("avg_price")
    )
    return (
        o.crossJoin(F.broadcast(avg_price))
        .where(F.col("o_totalprice") > F.col("avg_price"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def tpch_q4_order_priority(spark, sf_dir):
    """Q4-shaped: EXISTS-correlated semi-join — orders in a quarter
    with at least one line shipped after the order date, counted per
    priority. The semi-join carries only (l_orderkey, l_shipdate)
    across the shuffle, the quarter filter pushes into the orders
    scan, and the correlated ship>order predicate rides the equi-join
    as a residual (no cross product)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-04-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def tpch_q16_supplier_cnt(spark, sf_dir):
    """Q16-shaped: NOT IN anti-join + distinct-count — per (brand,
    type-prefix, size) bucket, how many distinct suppliers ship the
    part, excluding economy brands and excluding suppliers with
    negative balance (the 'complaints' NOT IN subquery). The anti-join
    side is dim-sized and broadcast; count_distinct shuffles only
    (group-key, suppkey) pairs."""
    p = _t(spark, sf_dir, "part").filter(
        ~F.col("p_brand").startswith("Brand#1") & (F.col("p_size") <= 25)
    )
    l = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        l.join(F.broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, l.l_partkey == p.p_partkey)
        .groupBy(
            "p_brand",
            F.substring("p_type", 1, 6).alias("p_type_prefix"),
            "p_size",
        )
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


LATE_DAYS = 90


def tpch_q21_waiting_supplier(spark, sf_dir):
    """Q21-shaped: the hardest correlation pattern in TPC-H — for
    finalized multi-supplier orders, suppliers whose line shipped late
    (> LATE_DAYS after the order date) while EVERY other supplier on
    the order shipped on time: one EXISTS (another supplier exists on
    the order) and one NOT EXISTS (no OTHER supplier was late),
    planned as a semi-join and an anti-join on the order key with the
    supplier-inequality as a residual predicate.

    Scale shape: lateness needs o_orderdate, so lineitem joins orders
    ONCE up front (status filter pushed into the orders scan); the
    semi/anti probes then reuse that same (l_orderkey)-partitioned
    frame — three hash joins on one key, no cross products, output
    per-supplier counts."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lines = l.join(o, l.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {LATE_DAYS} DAYS")
        ).alias("late"),
    ).localCheckpoint(eager=True)  # three branches below read it
    l1 = lines.where(F.col("late"))
    l2 = lines.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = lines.where(F.col("late")).select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    waiting = (
        l1.join(
            l2,
            (l1.l_orderkey == l2.k2) & (l1.l_suppkey != l2.s2),
            "left_semi",
        )
        .join(
            l3,
            (l1.l_orderkey == l3.k3) & (l1.l_suppkey != l3.s3),
            "left_anti",
        )
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waiting.join(F.broadcast(s), waiting.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


# ---------------------------------------------------------------------------
# DuckDB oracle SQL (same keys; tables pre-registered as views)
# ---------------------------------------------------------------------------

def w4_windowed_distinct_count(spark, sf_dir):
    """Running DISTINCT-user count per event type by day — the window
    aggregate Spark cannot express directly (COUNT(DISTINCT) OVER is
    unsupported), re-expressed scale-first: each user contributes on
    exactly their FIRST active day (one (type,user) aggregate), daily
    new-user counts cumulative-sum over the day-cardinality frame, and
    the running total is read off per active day. The oracle is
    DuckDB's NATIVE windowed distinct count — an independent engine
    executing the direct spec, so the decomposition is verified against
    the semantics, not against itself.

    Scale shape: the distinct work collapses map-side into the
    (type,user) aggregate; the window runs over |types| x |days| rows
    only. The naive alternative (collect_set over a window) ships every
    user id through every frame — O(days x users) state."""
    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts").alias("day")
    firsts = (
        ev.select("event_type", "user_id", day)
        .groupBy("event_type", "user_id")
        .agg(F.min("day").alias("first_day"))
    )
    new_per_day = firsts.groupBy(
        "event_type", F.col("first_day").alias("day")
    ).agg(F.count("*").alias("new_users"))
    active_days = ev.select("event_type", day).distinct()
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        active_days.join(new_per_day, ["event_type", "day"], "left")
        .select(
            "event_type", "day",
            F.coalesce("new_users", F.lit(0)).alias("new_users"),
        )
        .select(
            "event_type", "day",
            F.sum("new_users").over(w).cast("long")
            .alias("distinct_users_to_date"),
        )
    )


ORACLE_SQL: dict[str, str] = {
    "w4_windowed_distinct_count": """
        WITH daily AS (
            SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id
            FROM events
        )
        SELECT DISTINCT event_type, day,
               CAST(count(DISTINCT user_id) OVER (
                   PARTITION BY event_type ORDER BY day
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS distinct_users_to_date
        FROM daily
    """,

    "approx_distinct_users": """
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
               CAST(count(*) AS BIGINT) AS events,
               TRUE AS within_bound
        FROM events GROUP BY event_type
    """,
    "approx_value_quantiles": """
        SELECT t.event_type, q.q, TRUE AS rank_ok
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN (SELECT unnest([0.5, 0.95, 0.99]) AS q) q
    """,
    "a1_pivot_status_count": """
        SELECT o_orderpriority,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS F,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS O,
               count(*) FILTER (WHERE o_orderstatus = 'P') AS P
        FROM orders GROUP BY o_orderpriority
    """,
    "a2_group_count": """
        SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type
    """,
    "a3_conditional_count": """
        SELECT CAST(o_orderdate AS DATE) AS order_day,
               count(*) AS total_docs,
               count(*) FILTER (WHERE o_totalprice > 1000) AS high_value_docs
        FROM orders GROUP BY 1
    """,
    "a4_scalar_count": """
        SELECT count(*) AS cnt FROM orders WHERE o_totalprice > 5000
    """,
    "a5_max_date": """
        SELECT max(CAST(o_orderdate AS DATE)) AS latest_day FROM orders
    """,
    "a6_kpis": """
        SELECT count(*) AS total_rows,
               count(DISTINCT c_mktsegment) AS distinct_segments,
               count(*) FILTER (WHERE c_acctbal > 0) AS positive_balance
        FROM customer
    """,
    "a8_distinct": """
        SELECT DISTINCT c_mktsegment AS segment FROM customer
        WHERE c_mktsegment IS NOT NULL
    """,
    "a9_rollup_counts": """
        SELECT o_orderstatus, o_orderpriority,
               GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid,
               count(*) AS cnt,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    "a12_stats_agg": """
        SELECT l_returnflag,
               round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
               round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
               round(stddev_samp(l_extendedprice), 2) AS stddev_price
        FROM lineitem GROUP BY l_returnflag
    """,
    "a11_grouping_sets": """
        SELECT l_returnflag, l_linestatus,
               GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
               count(*) AS cnt
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus))
    """,
    "a10_cube_counts": """
        SELECT l_returnflag, l_linestatus,
               GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
               count(*) AS cnt,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "j1_outer_join": """
        SELECT coalesce(c.c_custkey, o.o_custkey) AS cust_key,
               c.c_name,
               coalesce(o.order_count, 0) AS order_count,
               coalesce(o.total_spent, 0.0) AS total_spent
        FROM customer c
        FULL OUTER JOIN (
            SELECT o_custkey,
                   count(*) AS order_count,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
            FROM orders GROUP BY o_custkey
        ) o ON c.c_custkey = o.o_custkey
    """,
    "j2_lookup_join": """
        SELECT n.n_nationkey, n.n_name,
               coalesce(r.r_name, n.n_name) AS region_name
        FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
    "j3_anti_join": """
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "j4_semi_join": """
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "u1_explode_words": """
        SELECT word, count(*) AS cnt FROM (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents
        ) WHERE word <> '' GROUP BY word
    """,
    "u2_dedup_first": """
        SELECT event_id, user_id, event_type, value FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id, event_type ORDER BY event_id) AS rn
            FROM events
        ) WHERE rn = 1
    """,
    "u3_set_except": """
        SELECT DISTINCT c_nationkey AS nationkey FROM customer
        EXCEPT
        SELECT DISTINCT s_nationkey AS nationkey FROM supplier
    """,
    "o1_sort_topn": """
        SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100
    """,
    "o2_sort_multikey": """
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_day, o_totalprice
        FROM orders
        ORDER BY order_day DESC NULLS LAST, o_orderkey LIMIT 50
    """,
    "p9_filter_eq": """
        SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        FROM lineitem WHERE l_returnflag = 'R'
    """,
    "p10_size_filter": """
        SELECT doc_id, len(string_split(text, ' ')) AS token_count
        FROM documents WHERE len(string_split(text, ' ')) > 50
    """,
    "p11_positive_filter": """
        SELECT l_orderkey, l_linenumber, l_discount
        FROM lineitem WHERE l_discount > 0.05
    """,
    # TRY_CAST, not CAST (r10 review): Spark's non-ANSI cast returns
    # NULL on a non-integer props.k while DuckDB's CAST would abort the
    # whole oracle query with a ConversionException — crash-vs-null
    # divergence, latent only because the generator emits integer k
    "f5_json_extract": """
        SELECT event_type,
               CAST(sum(TRY_CAST(json_extract_string(props, '$.k')
                                 AS BIGINT)) AS BIGINT) AS k_sum,
               count(*) AS cnt
        FROM events GROUP BY event_type
    """,
    # views deduped to one row per (user_id, ts) keeping max(event_id):
    # ASOF JOIN documents unique right-side keys and picks an
    # UNSPECIFIED member at a tie, while the Spark carry-forward ends
    # deterministically on the largest event_id (r10 review) — the
    # dedup makes the oracle deterministic AND identical to the Spark
    # tie-break without touching the engine side
    "j5_asof_join": """
        WITH purchases AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
        ), views AS (
            SELECT max(event_id) AS event_id, user_id, ts
            FROM events WHERE event_type = 'view' GROUP BY user_id, ts
        )
        SELECT p.event_id AS purchase_id,
               p.user_id,
               epoch_us(p.ts) AS purchase_ts_us,
               v.event_id AS view_event_id,
               epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
        FROM purchases p
        ASOF LEFT JOIN views v
          ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
    "a14_time_rollup": """
        WITH cal AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(date_trunc('week', ts) AS DATE) AS week,
                   CAST(date_trunc('month', ts) AS DATE) AS month,
                   CAST(value AS DECIMAL(14,2)) AS v
            FROM events
        )
        SELECT day, week, month,
               GROUPING(day) * 4 + GROUPING(week) * 2 + GROUPING(month) AS gid,
               count(*) AS cnt,
               CAST(sum(v) AS DOUBLE) AS value_sum
        FROM cal
        GROUP BY GROUPING SETS ((day), (week), (month))
    """,
    "supplier_region_mix": """
        WITH per_supp AS (
            SELECT l_suppkey,
                   sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
            FROM lineitem GROUP BY l_suppkey
        ), regional AS (
            SELECT r_name, count(*) AS n_suppliers, sum(rev) AS rev
            FROM per_supp
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        )
        SELECT r_name, n_suppliers,
               CAST(rev AS DOUBLE) AS revenue,
               CAST(round(rev / sum(rev) OVER (), 6) AS DOUBLE)
                   AS revenue_share
        FROM regional
    """,
    "segment_reorder_cadence": """
        WITH gaps AS (
            SELECT o_custkey,
                   CAST(o_orderdate AS DATE)
                       - lag(CAST(o_orderdate AS DATE)) OVER w AS gap_days
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
        )
        SELECT c_mktsegment,
               count(*) AS n_gaps,
               quantile_cont(gap_days, 0.5) AS p50_gap_days,
               quantile_cont(gap_days, 0.9) AS p90_gap_days,
               CAST(max(gap_days) AS INT) AS max_gap_days
        FROM gaps JOIN customer ON o_custkey = c_custkey
        WHERE gap_days IS NOT NULL
        GROUP BY c_mktsegment
    """,
    "p13_unpivot_melt": """
        WITH melted AS (
            SELECT metric, value FROM (
                SELECT l_orderkey, l_linenumber,
                       CAST(l_quantity AS DOUBLE) AS quantity,
                       CAST(l_extendedprice AS DOUBLE) AS extendedprice,
                       CAST(l_discount AS DOUBLE) AS discount
                FROM lineitem
            ) UNPIVOT INCLUDE NULLS
              (value FOR metric IN (quantity, extendedprice, discount))
        )
        SELECT metric, count(*) AS n_values,
               round(min(value), 2) AS min_value,
               round(max(value), 2) AS max_value,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        FROM melted GROUP BY metric
    """,
    "orders_monthly_growth": """
        WITH monthly AS (
            SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                   count(*) AS n_orders,
                   sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
            FROM orders GROUP BY 1
        )
        SELECT month, n_orders,
               CAST(rev AS DOUBLE) AS revenue,
               CAST(round((rev - lag(rev) OVER (ORDER BY month))
                          / lag(rev) OVER (ORDER BY month), 6) AS DOUBLE)
                   AS mom_growth
        FROM monthly
    """,
    "part_abc_classification": """
        WITH rev AS (
            SELECT l_partkey,
                   sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
            FROM lineitem GROUP BY l_partkey
        ), staged AS (
            SELECT rev,
                   sum(rev) OVER (ORDER BY rev DESC, l_partkey ASC
                       ROWS UNBOUNDED PRECEDING) AS cum_rev,
                   sum(rev) OVER () AS total
            FROM rev
        )
        SELECT CASE WHEN cum_rev * 100 <= total * 80 THEN 'A'
                    WHEN cum_rev * 100 <= total * 95 THEN 'B'
                    ELSE 'C' END AS abc_class,
               count(*) AS n_parts,
               CAST(sum(rev) AS DOUBLE) AS class_revenue
        FROM staged GROUP BY 1
    """,
    "lineitem_2d_histogram": f"""
        -- mirrors Spark width_bucket's multiply-first arithmetic
        -- (floor(n * (v - lo) / (hi - lo)) + 1): divide-first grouping
        -- shifts boundary values when the step is float-inexact (0.02)
        SELECT CASE WHEN l_quantity < 0 THEN 0
                    WHEN l_quantity >= 50 THEN {H2D_Q_BUCKETS + 1}
                    ELSE CAST(floor({H2D_Q_BUCKETS} * l_quantity / 50.0)
                              AS BIGINT) + 1 END AS qty_bucket,
               CASE WHEN l_discount < 0 THEN 0
                    WHEN l_discount >= 0.1 THEN {H2D_D_BUCKETS + 1}
                    ELSE CAST(floor({H2D_D_BUCKETS} * l_discount / 0.1)
                              AS BIGINT) + 1 END AS disc_bucket,
               count(*) AS cnt
        FROM lineitem GROUP BY 1, 2
    """,
    "part_brand_type_pmi": """
        WITH joint AS (
            SELECT p_brand, p_type, count(*) AS n_bt FROM part GROUP BY 1, 2
        ), brand AS (
            SELECT p_brand, sum(n_bt) AS n_b FROM joint GROUP BY 1
        ), ptype AS (
            SELECT p_type, sum(n_bt) AS n_t FROM joint GROUP BY 1
        ), total AS (
            SELECT CAST(sum(n_bt) AS DOUBLE) AS n FROM joint
        )
        SELECT p_brand, p_type, n_bt,
               round((n_bt * n) / (n_b * n_t), 6) AS lift,
               round(ln((n_bt * n) / (n_b * n_t)), 6) AS pmi
        FROM joint JOIN brand USING (p_brand)
        JOIN ptype USING (p_type) CROSS JOIN total
    """,
    "events_user_gini": """
        WITH counts AS (
            SELECT user_id, count(*) AS x FROM events GROUP BY user_id
        ), ranked AS (
            SELECT x, row_number() OVER (ORDER BY x ASC, user_id ASC) AS i
            FROM counts
        )
        SELECT count(*) AS n_users,
               round(2.0 * sum(CAST(i AS HUGEINT) * x) / (count(*) * sum(x))
                     - (count(*) + 1.0) / count(*), 6) AS gini
        FROM ranked
    """,
    "a15_mode_agg": """
        WITH counts AS (
            SELECT l_returnflag, l_quantity, count(*) AS cnt
            FROM lineitem GROUP BY 1, 2
        ), ranked AS (
            SELECT l_returnflag, l_quantity, cnt,
                   row_number() OVER (
                       PARTITION BY l_returnflag
                       ORDER BY cnt DESC, l_quantity ASC
                   ) AS rn
            FROM counts
        )
        SELECT l_returnflag, l_quantity AS mode_qty, cnt AS mode_count
        FROM ranked WHERE rn = 1
    """,
    "events_daily_ohlc": """
        SELECT CAST(ts AS DATE) AS day, event_type,
               (min(struct_pack(t := epoch_us(ts), e := event_id,
                                v := value))).v AS open,
               max(value) AS high,
               min(value) AS low,
               (max(struct_pack(t := epoch_us(ts), e := event_id,
                                v := value))).v AS close,
               count(*) AS n_events
        FROM events
        GROUP BY 1, 2
    """,
    "ship_latency_profile": """
        WITH lag AS (
            SELECT o.o_orderpriority,
                   CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE)
                       AS lag_days
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        )
        SELECT o_orderpriority,
               count(*) AS n_lines,
               quantile_cont(lag_days, 0.5) AS p50_days,
               quantile_cont(lag_days, 0.95) AS p95_days,
               CAST(max(lag_days) AS INT) AS max_days,
               round(CAST(count(*) FILTER (WHERE lag_days > 90) AS DOUBLE)
                     / count(*), 6) AS late_rate_90d
        FROM lag GROUP BY o_orderpriority
    """,
    "events_dow_hour_heatmap": """
        SELECT CAST(isodow(ts) - 1 AS INT) AS dow,
               CAST(hour(ts) AS INT) AS hour,
               count(*) AS cnt,
               CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS value_sum
        FROM events GROUP BY 1, 2
    """,
    "json_key_census": """
        WITH keys AS (
            SELECT unnest(json_keys(props)) AS key FROM events
            WHERE props IS NOT NULL
        ), total AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM events
            WHERE props IS NOT NULL
        )
        SELECT key, count(*) AS n_docs_with_key,
               round(count(*) / any_value(t.n_docs), 6) AS presence_share
        FROM keys CROSS JOIN total t
        GROUP BY key
    """,
    "revenue_date_spine": """
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   count(*) AS n_orders,
                   sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
            FROM orders GROUP BY 1
        ), spine AS (
            SELECT CAST(unnest(generate_series(min(day), max(day),
                               INTERVAL 1 DAY)) AS DATE) AS day
            FROM daily
        )
        SELECT s.day,
               COALESCE(d.n_orders, 0) AS n_orders,
               COALESCE(CAST(d.rev AS DOUBLE), 0.0) AS revenue,
               CAST(d.rev IS NOT NULL AS INT) AS has_sales
        FROM spine s LEFT JOIN daily d ON s.day = d.day
    """,
    "session_top_paths": f"""
        WITH staged AS (
            SELECT user_id, event_id, event_type, epoch_us(ts) AS t_us,
                   lag(epoch_us(ts)) OVER w AS prev_ts
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        ), numbered AS (
            SELECT user_id, event_id, event_type, t_us,
                   sum(CASE WHEN prev_ts IS NULL
                              OR t_us - prev_ts > {PATH_GAP_US}
                            THEN 1 ELSE 0 END) OVER (
                       PARTITION BY user_id ORDER BY t_us, event_id
                       ROWS UNBOUNDED PRECEDING) AS sess_no
            FROM staged
        ), paths AS (
            SELECT user_id, sess_no,
                   array_to_string(
                       (list(event_type ORDER BY t_us, event_id))[1:{PATH_LEN}],
                       '>') AS path
            FROM numbered GROUP BY user_id, sess_no
        )
        SELECT path, count(*) AS n_sessions
        FROM paths GROUP BY path
        ORDER BY n_sessions DESC, path ASC
        LIMIT {PATH_TOP_K}
    """,
    "orders_backlog_timeline": """
        WITH placed AS (
            SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS placed
            FROM orders GROUP BY 1
        ), completed AS (
            SELECT day, count(*) AS completed FROM (
                SELECT l_orderkey, CAST(max(l_shipdate) AS DATE) AS day
                FROM lineitem GROUP BY l_orderkey
            ) GROUP BY day
        ), merged AS (
            SELECT COALESCE(p.day, c.day) AS day,
                   COALESCE(p.placed, 0) AS placed,
                   COALESCE(c.completed, 0) AS completed
            FROM placed p FULL OUTER JOIN completed c ON p.day = c.day
        )
        SELECT day, placed, completed,
               CAST(sum(placed) OVER w - sum(completed) OVER w AS BIGINT)
                   AS open_backlog
        FROM merged
        WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    """,
    "a13_percent_of_total": """
        WITH rev AS (
            SELECT n_name,
                   sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        )
        SELECT n_name,
               CAST(rev AS DOUBLE) AS revenue,
               CAST(round(rev / sum(rev) OVER (), 6) AS DOUBLE) AS share,
               CAST(row_number() OVER (ORDER BY rev DESC, n_name ASC) AS INT) AS rk
        FROM rev
    """,
    "customer_rfm_scores": f"""
        WITH agg AS (
            SELECT o_custkey,
                   CAST(max(CAST(o_orderdate AS DATE)) - DATE '1970-01-01'
                        AS BIGINT) AS r_days,
                   count(*) AS freq,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS monetary
            FROM orders GROUP BY o_custkey
        ), bounds AS (
            SELECT quantile_cont(r_days, {list(RFM_QUINTILES)}) AS rb,
                   quantile_cont(freq, {list(RFM_QUINTILES)}) AS fb,
                   quantile_cont(monetary, {list(RFM_QUINTILES)}) AS mb
            FROM agg
        )
        SELECT o_custkey, r_days, freq, monetary,
               CAST(len(list_filter(rb, b -> r_days > b)) + 1 AS INT) AS r_score,
               CAST(len(list_filter(fb, b -> freq > b)) + 1 AS INT) AS f_score,
               CAST(len(list_filter(mb, b -> monetary > b)) + 1 AS INT) AS m_score
        FROM agg CROSS JOIN bounds
    """,
    "tpch_q2_argmin_supplier": """
        WITH ranked AS (
            SELECT l_partkey, l_suppkey, l_extendedprice,
                   row_number() OVER (
                       PARTITION BY l_partkey
                       ORDER BY l_extendedprice, l_suppkey,
                                l_orderkey, l_linenumber
                   ) AS rn
            FROM lineitem
        )
        SELECT l_partkey, l_suppkey AS cheapest_suppkey,
               l_extendedprice AS min_price
        FROM ranked WHERE rn = 1
    """,
    "j5b_asof_join_forward": """
        WITH v AS (
            SELECT event_id AS view_id, user_id, epoch_us(ts) AS ts_us
            FROM events WHERE event_type = 'view'
        ), p AS (
            SELECT event_id AS pid, user_id, epoch_us(ts) AS pts
            FROM events WHERE event_type = 'purchase'
        ), ranked AS (
            SELECT v.view_id, v.user_id, v.ts_us, p.pid,
                   p.pts - v.ts_us AS wait_us,
                   row_number() OVER (
                       PARTITION BY v.view_id ORDER BY p.pts, p.pid
                   ) AS rk
            FROM v JOIN p
              ON p.user_id = v.user_id AND p.pts > v.ts_us
        )
        SELECT view_id, user_id, ts_us AS view_ts_us,
               pid AS next_purchase_id, wait_us
        FROM ranked WHERE rk = 1
    """,
    "j7_interval_join": f"""
        WITH views AS (
            SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
            WHERE event_type = 'view'
        ), flagged AS (
            SELECT user_id, event_id, ts_us,
                   CASE WHEN lag(ts_us) OVER w IS NULL
                          OR ts_us - lag(ts_us) OVER w > {SESSION_GAP_US}
                        THEN 1 ELSE 0 END AS new_sess
            FROM views
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        ), numbered AS (
            SELECT user_id, ts_us,
                   sum(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS UNBOUNDED PRECEDING) AS sess_no
            FROM flagged
        ), sessions AS (
            SELECT user_id, min(ts_us) AS start_us, max(ts_us) AS end_us,
                   count(*) AS n_views
            FROM numbered GROUP BY user_id, sess_no
        )
        SELECT p.event_id AS purchase_id, p.user_id,
               epoch_us(p.ts) AS p_ts, s.start_us, s.end_us, s.n_views
        FROM events p JOIN sessions s
          ON p.user_id = s.user_id
         AND epoch_us(p.ts) BETWEEN s.start_us AND s.end_us
        WHERE p.event_type = 'purchase'
    """,
    "j6_range_join": f"""
        SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
               abs(epoch_us(a.ts) - epoch_us(b.ts)) AS gap_us
        FROM events a JOIN events b
          ON a.user_id = b.user_id AND a.event_id < b.event_id
         AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= {RANGE_JOIN_WINDOW_US}
    """,
    "w1_running_total": """
        SELECT o_orderkey, o_custkey,
               row_number() OVER w AS rn,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
                   AS running_total
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "w2_offset_rank_funcs": """
        SELECT o_orderkey, o_custkey,
               lag(o_totalprice) OVER w AS prev_price,
               lead(o_totalprice) OVER w AS next_price,
               dense_rank() OVER w AS drank,
               ntile(4) OVER w AS quartile
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "w3_distribution_funcs": """
        SELECT event_id, user_id,
               percent_rank() OVER w_val AS pr,
               cume_dist() OVER w_val AS cd,
               last_value(CASE WHEN value > 400 THEN value END IGNORE NULLS)
                   OVER w_time AS last_big_value
        FROM events
        WINDOW
            w_val AS (PARTITION BY user_id
                      ORDER BY value NULLS FIRST, event_id),
            w_time AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    "u5_except_all": """
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT ALL
        SELECT s_nationkey AS nationkey FROM supplier
    """,
    "tumbling_window_agg": """
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               count(*) AS cnt,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum
        FROM events GROUP BY 1
    """,
    "sliding_window_agg": """
        WITH exploded AS (
            SELECT time_bucket(INTERVAL '30 minutes', ts)
                       - i.n * INTERVAL '30 minutes' AS window_start,
                   value
            FROM events, (SELECT unnest(range(0, 2)) AS n) i
            WHERE ts < time_bucket(INTERVAL '30 minutes', ts)
                       - i.n * INTERVAL '30 minutes' + INTERVAL '1 hour'
        )
        SELECT window_start, count(*) AS cnt,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum
        FROM exploded GROUP BY 1
    """,
    "tpch_q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                   AS sum_disc_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                    * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)
                   AS sum_charge,
               CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2024-10-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "tpch_q3_shipping_priority": """
        SELECT l_orderkey, order_day, CAST(rev_dec AS DOUBLE) AS revenue FROM (
            SELECT l.l_orderkey,
                   CAST(o.o_orderdate AS DATE) AS order_day,
                   sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                       * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
                       AS rev_dec
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment = 'BUILDING'
            GROUP BY 1, 2
        ) ORDER BY rev_dec DESC, l_orderkey LIMIT 10
    """,
    "u4_set_intersect": """
        SELECT DISTINCT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT DISTINCT s_nationkey AS nationkey FROM supplier
    """,
    "approx_distinct_rollup": """
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
               TRUE AS within_bound
        FROM events GROUP BY event_type
    """,
    "approx_distinct_users_sketch": """
        SELECT DISTINCT event_type, TRUE AS merge_consistent,
               TRUE AS estimate_positive
        FROM events
    """,
    "approx_distinct_rollup_sketch": """
        SELECT DISTINCT event_type, TRUE AS rollup_consistent,
               TRUE AS estimate_positive
        FROM events
    """,
    "tpch_q4_order_priority": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1996-04-01'
          AND o_orderdate < TIMESTAMP '1996-07-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate)
        GROUP BY o_orderpriority
    """,
    "tpch_q16_supplier_cnt": """
        SELECT p_brand, substring(p_type, 1, 6) AS p_type_prefix, p_size,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p_brand NOT LIKE 'Brand#1%' AND p_size <= 25
          AND l_suppkey NOT IN
              (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY 1, 2, 3
    """,
    "tpch_q21_waiting_supplier": f"""
        WITH lines AS (
            SELECT l_orderkey, l_suppkey,
                   l_shipdate > o_orderdate + INTERVAL {LATE_DAYS} DAY AS late
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o_orderstatus = 'F'
        )
        SELECT s_name, count(*) AS numwait
        FROM lines l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        WHERE l1.late
          AND EXISTS (SELECT 1 FROM lines l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lines l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
        GROUP BY s_name
    """,
    "tpch_q18_large_orders": """
        SELECT c.c_name, o.o_orderkey,
               CAST(o.o_orderdate AS DATE) AS order_day,
               o.o_totalprice,
               CAST(b.total_qty_dec AS DOUBLE) AS total_qty
        FROM (
            SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty_dec
            FROM lineitem GROUP BY l_orderkey
            HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150
        ) b
        JOIN orders o ON b.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100
    """,
    "scalar_subquery_above_avg": """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_totalprice > (
            SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   / count(*)
            FROM orders
        )
    """,
    "tpch_q14_promo_revenue": """
        SELECT 100.0
               * CAST(sum(CASE WHEN p.p_type LIKE 'ECO%'
                     THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                          * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))
                     ELSE CAST(0 AS DECIMAL(14,4)) END) AS DOUBLE)
               / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                     * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
               AS promo_revenue_pct
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '2024-03-01'
          AND l.l_shipdate <  TIMESTAMP '2024-06-01'
    """,
    "tpch_q5_local_supplier_volume": """
        SELECT n.n_name,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                   AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE c.c_nationkey = s.s_nationkey AND r.r_name = 'ASIA'
        GROUP BY n.n_name
    """,
}


QUERIES = {
    "a1_pivot_status_count": a1_pivot_status_count,
    "a2_group_count": a2_group_count,
    "a3_conditional_count": a3_conditional_count,
    "a4_scalar_count": a4_scalar_count,
    "a5_max_date": a5_max_date,
    "a6_kpis": a6_kpis,
    "a8_distinct": a8_distinct,
    "a9_rollup_counts": a9_rollup_counts,
    "a10_cube_counts": a10_cube_counts,
    "a11_grouping_sets": a11_grouping_sets,
    "a12_stats_agg": a12_stats_agg,
    "approx_distinct_users": approx_distinct_users,
    "approx_distinct_users_sketch": approx_distinct_users_sketch,  # derived oracle (merge-consistency gate)
    "approx_value_quantiles": approx_value_quantiles,
    "j1_outer_join": j1_outer_join,
    "j2_lookup_join": j2_lookup_join,
    "j3_anti_join": j3_anti_join,
    "j4_semi_join": j4_semi_join,
    "u1_explode_words": u1_explode_words,
    "u2_dedup_first": u2_dedup_first,
    "u3_set_except": u3_set_except,
    "u4_set_intersect": u4_set_intersect,
    "o1_sort_topn": o1_sort_topn,
    "o2_sort_multikey": o2_sort_multikey,
    "p9_filter_eq": p9_filter_eq,
    "p10_size_filter": p10_size_filter,
    "p11_positive_filter": p11_positive_filter,
    "f5_json_extract": f5_json_extract,
    "j5_asof_join": j5_asof_join,
    "j6_range_join": j6_range_join,
    "j7_interval_join": j7_interval_join,
    "j5b_asof_join_forward": j5b_asof_join_forward,
    "tpch_q2_argmin_supplier": tpch_q2_argmin_supplier,
    "customer_rfm_scores": customer_rfm_scores,
    "a13_percent_of_total": a13_percent_of_total,
    "orders_backlog_timeline": orders_backlog_timeline,
    "revenue_date_spine": revenue_date_spine,
    "session_top_paths": session_top_paths,
    "a14_time_rollup": a14_time_rollup,
    "json_key_census": json_key_census,
    "events_dow_hour_heatmap": events_dow_hour_heatmap,
    "ship_latency_profile": ship_latency_profile,
    "a15_mode_agg": a15_mode_agg,
    "events_daily_ohlc": events_daily_ohlc,
    "lineitem_2d_histogram": lineitem_2d_histogram,
    "part_abc_classification": part_abc_classification,
    "orders_monthly_growth": orders_monthly_growth,
    "p13_unpivot_melt": p13_unpivot_melt,
    "segment_reorder_cadence": segment_reorder_cadence,
    "supplier_region_mix": supplier_region_mix,
    "part_brand_type_pmi": part_brand_type_pmi,
    "events_user_gini": events_user_gini,
    "w1_running_total": w1_running_total,
    "w2_offset_rank_funcs": w2_offset_rank_funcs,
    "w3_distribution_funcs": w3_distribution_funcs,
    "w4_windowed_distinct_count": w4_windowed_distinct_count,
    "u5_except_all": u5_except_all,
    "tumbling_window_agg": tumbling_window_agg,
    "sliding_window_agg": sliding_window_agg,
    "tpch_q1_pricing_summary": tpch_q1_pricing_summary,
    "tpch_q3_shipping_priority": tpch_q3_shipping_priority,
    "tpch_q5_local_supplier_volume": tpch_q5_local_supplier_volume,
    "tpch_q14_promo_revenue": tpch_q14_promo_revenue,
    "tpch_q18_large_orders": tpch_q18_large_orders,
    "tpch_q4_order_priority": tpch_q4_order_priority,
    "approx_distinct_rollup": approx_distinct_rollup,
    "approx_distinct_rollup_sketch": approx_distinct_rollup_sketch,
    "tpch_q16_supplier_cnt": tpch_q16_supplier_cnt,
    "tpch_q21_waiting_supplier": tpch_q21_waiting_supplier,
    "scalar_subquery_above_avg": scalar_subquery_above_avg,
}
