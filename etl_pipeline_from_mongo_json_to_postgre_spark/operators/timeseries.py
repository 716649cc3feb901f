"""Time-series window operators over the events table (SURVEY §2
extension family alongside streaming/: the batch-side temporal
analytics the reference's audit dashboard trends would need at scale).

Scale shape: every query here is window functions over ONE hash
shuffle on the entity key (user_id); range frames are bounded by
time, so per-partition state stays small no matter the history
length. No Python, no collects — pure codegen window evaluation.

Determinism: rolling sums go through DECIMAL (order-free), window
ordering uses epoch microseconds with event_id tie-breaks, and the
DuckDB oracles use the same integer range bounds (epoch_us) so frame
membership is bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.parquet import load_table

ROLL_WINDOW_US = 3_600_000_000  # 1 hour in microseconds


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def ts_rolling_stats(spark, sf_dir):
    """Per-user rolling 1-hour activity: for every event, how many
    events and how much value the user produced in the trailing hour
    (inclusive), plus the gap to their previous event.

    One shuffle: the range-frame rolling aggregates and the lag share
    the same (user_id) partitioning and (epoch-micros) ordering, so
    Catalyst evaluates both window specs over a single Exchange+Sort.
    """
    ev = _events(spark, sf_dir)
    staged = ev.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        F.col("value").cast("decimal(18,6)").alias("val_dec"),
    )
    w_range = (
        Window.partitionBy("user_id")
        .orderBy("t_us")
        .rangeBetween(-ROLL_WINDOW_US, 0)
    )
    w_lag = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    return staged.select(
        "event_id",
        "user_id",
        F.count("*").over(w_range).alias("n_1h"),
        F.sum("val_dec").over(w_range).cast("double").alias("sum_1h"),
        (F.col("t_us") - F.lag("t_us").over(w_lag)).alias("gap_us"),
    )


def ts_user_cadence(spark, sf_dir):
    """Per-user cadence profile: event count, active span, median
    inter-event gap (exact, via the gap distribution), and the longest
    silent stretch — the per-entity census behind engagement/session
    analytics. Two chained aggregations on the SAME user_id key: the
    gap window and both group-bys reuse one partitioning."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    gaps = (
        ev.select(
            "event_id", "user_id", F.unix_micros("ts").alias("t_us")
        )
        .withColumn("gap_us", F.col("t_us") - F.lag("t_us").over(w))
    )
    return gaps.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        (F.max("t_us") - F.min("t_us")).alias("span_us"),
        F.median("gap_us").alias("median_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


def ts_funnel_stages(spark, sf_dir):
    """Ordered-sequence funnel: per user, the first time each stage of
    view -> click -> purchase was reached IN ORDER (a click only counts
    after the first view, a purchase only after that click). Emits the
    stage timestamps as epoch micros (NULL = stage never reached); the
    stage-by-stage drop-off report is a trivial count over this frame.

    Scale shape: each stage is a user-keyed MIN aggregate joined back to
    the (already user-partitioned) next stage's events — three hash
    joins on the same key over user-cardinality frames, so AQE reuses
    one partitioning and nothing event-sized crosses more than the
    first shuffle. No correlated subquery, no per-user collect: the
    sequential dependency is expressed as filter-join-min chains, which
    is how funnel semantics stay embarrassingly parallel at 100 TB.
    """
    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", F.unix_micros("ts").alias("t_us")
    )
    # each stage frame is user-cardinality and feeds BOTH the next
    # stage's join and the final assembly: the checkpoints stop
    # Catalyst from cloning every upstream stage into every consumer
    # (unbarriered: 6 event-table scans; barriered: 3, one per stage,
    # each with its event_type filter pushed down)
    s1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("t_us").alias("t_view_us"))
        .localCheckpoint(eager=True)
    )
    s2 = (
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("t_us") > F.col("t_view_us"))
        .groupBy("user_id").agg(F.min("t_us").alias("t_click_us"))
        .localCheckpoint(eager=True)
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("t_us") > F.col("t_click_us"))
        .groupBy("user_id").agg(F.min("t_us").alias("t_purchase_us"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select("user_id", "t_view_us", "t_click_us", "t_purchase_us")
    )


def ts_cohort_retention(spark, sf_dir):
    """Weekly cohort retention matrix: users bucketed by first-seen
    week, counted in every subsequent week they were active — the
    classic triangle behind any retention dashboard.

    Scale shape: the (user, week) activity set collapses map-side
    before its shuffle; the cohort frame is user-cardinality and joins
    on the same user key; the final matrix is cohorts x weeks (tiny).
    Week arithmetic is integer days/7 on DATE values so both engines
    bucket identically (ISO Monday truncation in each).
    """
    ev = _events(spark, sf_dir).select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("week")
    )
    # pair-set-cardinality; cohort + the join both read it — barrier =
    # one events scan instead of one per consumer
    active = ev.distinct().localCheckpoint(eager=True)
    cohort = active.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        active.join(cohort, "user_id")
        .select(
            "cohort_week",
            (F.datediff("week", "cohort_week") / 7).cast("int").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


def ts_trend_slope(spark, sf_dir):
    """Per-type linear trend via AGGREGATE-ONLY least squares
    (regr_slope / regr_intercept / regr_r2): the regression reduces to
    five map-side-combinable co-moment sums, so fitting a trend line
    to a 100 TB series is one |groups|-row shuffle — no iterative
    solver, no collect. x is the integer day index (bounded magnitude:
    raw epoch-micros x would burn double precision in the x^2 sums);
    outputs rounded past partial-agg reorder noise (~1e-14 relative)."""
    ev = _events(spark, sf_dir)
    staged = ev.select(
        "event_type",
        F.unix_date(F.to_date("ts")).cast("double").alias("x"),
        F.col("value").alias("y"),
    )
    return staged.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.expr("regr_slope(y, x)"), 6).alias("slope_per_day"),
        F.round(F.expr("regr_intercept(y, x)"), 4).alias("intercept"),
        F.round(F.expr("regr_r2(y, x)"), 6).alias("r2"),
    )


WAU_DAYS = 7


def ts_active_users(spark, sf_dir):
    """DAU / trailing-WAU census per day — the canonical engagement
    rollup. Rolling DISTINCT does not decompose into mergeable
    partials, so the scale-correct shape is: collapse once to the
    DISTINCT (day, user) pair set (map-side combined, pair-set-sized
    shuffle), then for the trailing window join each activity day onto
    the WAU_DAYS days it contributes to (a bounded explode of day
    offsets — the j6 bucket trick in one dimension) and count distinct
    users per target day. Nothing event-sized survives past the first
    aggregate; at 100 TB the pair set is |users x days|, orders of
    magnitude below the event count. (The sketch alternative — daily
    HLL unions, cf. approx_distinct_rollup — trades exactness for a
    fixed-size shuffle.)"""
    ev = _events(spark, sf_dir)
    # pair-set-cardinality, feeding dau AND the window-contribution
    # explode — barrier = one events scan
    pairs = (
        ev.select("user_id", F.to_date("ts").alias("day"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    dau = pairs.groupBy("day").agg(F.count("*").alias("dau"))
    contrib = pairs.select(
        "user_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(WAU_DAYS - 1))
        ).alias("off"),
        F.date_add("day", F.col("off")).alias("tday"),
    ).select("user_id", "tday")
    wau = (
        contrib.join(dau.select(F.col("day").alias("tday")), "tday")
        .groupBy("tday")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau.day == wau.tday)
        .select("day", "dau", "wau")
    )


CONC_GAP_US = 1_800_000_000  # session gap for the concurrency sweep


def sessions_concurrency_daily(spark, sf_dir):
    """Peak concurrent user-sessions per day via the interval sweep
    (+1 at session start, -1 after session end) — implemented as a
    DISTRIBUTED PREFIX SUM: boundaries partition by day, each day
    computes its local running sum, and a day-cardinality carry
    (exclusive cumsum of per-day delta totals) shifts every day's
    local sums to global concurrency. No global single-partition sort
    ever happens — the only unpartitioned window runs over |days| rows.
    That block-carry decomposition is how any running balance scales
    past one reducer.

    Determinism: boundaries order by (t, delta DESC) so coincident
    starts count as overlapping (inclusive sweep); equal-delta ties
    don't change the set of prefix values.

    Day grid (r10 review): the output is the DENSE day spine from the
    first to the last boundary day. A day with no boundary rows is not
    concurrency-zero — a multi-day session covers it — and a day whose
    sweep only declines peaks at its START value (the carry), not at
    any boundary row; both cases were silently under-reported when the
    census grouped boundary rows alone (the oracle shared the blind
    spot, so parity never caught it). peak(day) =
    greatest(carry_into_day, carry + max local run)."""
    ev = _events(spark, sf_dir)
    w_ord = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    new_sess = F.when(
        F.col("prev_ts").isNull()
        | (F.col("t_us") - F.col("prev_ts") > CONC_GAP_US), 1
    ).otherwise(0)
    sessions = (
        ev.select("event_id", "user_id", F.unix_micros("ts").alias("t_us"))
        .withColumn("prev_ts", F.lag("t_us").over(w_ord))
        .withColumn("sess_no", F.sum(new_sess).over(w_cum))
        .groupBy("user_id", "sess_no")
        .agg(F.min("t_us").alias("start_us"), F.max("t_us").alias("end_us"))
        # session-cardinality; boundaries is consumed by BOTH the local
        # sweep and the day totals — barrier = one events scan, not four
        .localCheckpoint(eager=True)
    )
    boundaries = sessions.select(
        F.col("start_us").alias("t_us"), F.lit(1).alias("delta")
    ).unionByName(
        sessions.select(
            (F.col("end_us") + 1).alias("t_us"), F.lit(-1).alias("delta")
        )
    ).select(
        F.to_date(F.timestamp_micros("t_us")).alias("day"), "t_us", "delta"
    )
    w_day = (
        Window.partitionBy("day")
        .orderBy("t_us", F.desc("delta"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = boundaries.withColumn("run", F.sum("delta").over(w_day))
    day_totals = boundaries.groupBy("day").agg(F.sum("delta").alias("dtot"))
    # dense day spine [first boundary day, last boundary day]; the
    # sequence is day-cardinality, same bound as the carry window
    spine = (
        boundaries.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    full = spine.join(day_totals, "day", "left").select(
        "day", F.coalesce("dtot", F.lit(0)).alias("dtot")
    )
    w_carry = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = full.select(
        "day",
        F.coalesce(F.sum("dtot").over(w_carry), F.lit(0)).alias("carry"),
    )
    local_max = local.groupBy("day").agg(F.max("run").alias("max_run"))
    return (
        carry.join(F.broadcast(local_max), "day", "left")
        .select(
            "day",
            F.greatest(
                F.col("carry"),
                F.col("carry") + F.coalesce(F.col("max_run"), F.lit(0)),
            ).cast("bigint").alias("peak_concurrent"),
        )
    )


PATTERN_WINDOW_US = 3_600_000_000  # adjacent-pair window: 1 hour


def ts_adjacent_pattern(spark, sf_dir):
    """Sequence-pattern counts (a two-event MATCH_RECOGNIZE): per user,
    how often an 'error' event is IMMEDIATELY followed by a 'purchase'
    within the hour — the "did the failure cost a sale?" adjacency.
    Single window pass: lead() over one (user_id) shuffle; the pattern
    predicate is a pure row expression over (event, next-event), so any
    regex-like adjacency pattern compiles to the same one-Exchange plan.
    """
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    staged = ev.select(
        "event_id", "user_id", F.col("event_type"),
        F.unix_micros("ts").alias("t_us"),
    ).select(
        "user_id", "event_type", "t_us",
        F.lead("event_type").over(w).alias("next_type"),
        F.lead("t_us").over(w).alias("next_t_us"),
    )
    return (
        staged.where(
            (F.col("event_type") == "error")
            & (F.col("next_type") == "purchase")
            & (F.col("next_t_us") - F.col("t_us") <= PATTERN_WINDOW_US)
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("n_error_then_purchase"))
    )


def ts_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over event types: for
    every (from, to) adjacent pair within a user's timeline, the count
    and the row-normalized transition probability — the empirical
    chain behind next-action prediction and anomaly scoring.

    Scale shape: one lead() pass over the (user_id) shuffle emits
    (from, to) tokens; the matrix aggregate is |types|^2-sized and
    map-side-combined; row totals broadcast back. Probabilities are
    exact integer ratios rounded for display."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    pairs = (
        ev.select(
            "user_id", "event_id",
            F.col("event_type").alias("from_type"),
            F.unix_micros("ts").alias("t_us"),
        )
        .withColumn("to_type", F.lead("from_type").over(w))
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("cnt"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("cnt").alias("row_total"))
    return (
        pairs.join(F.broadcast(totals), "from_type")
        .select(
            "from_type", "to_type", "cnt",
            F.round(F.col("cnt") / F.col("row_total"), 6).alias("p"),
        )
    )


COVERAGE_WINDOW_MIN = 30  # each event opens a 30-minute activity interval


def ts_active_time_coverage(spark, sf_dir):
    """Interval-union coverage per user: each event opens a 30-minute
    activity interval; overlapping intervals merge, and the output is
    each user's merged-interval (visit) count and total covered
    minutes — the "time actually active" metric raw event counts
    overstate (100 events in one burst is 30 minutes, not 50 hours).

    Scale shape: the classic sweep — one (user) window ordered by time
    computes the running max of interval ends; a new visit starts
    exactly where the event's start exceeds every prior end. Visit ids
    come from a cumulative sum of the start flags on the SAME window
    partitioning (one shuffle total), and per-visit extents aggregate
    with map-side combine. Integer epoch-minute arithmetic end to end —
    no fp, exact parity."""
    ev = _events(spark, sf_dir)
    pts = ev.select(
        "user_id",
        (F.unix_timestamp("ts") / 60).cast("bigint").alias("start_min"),
        ((F.unix_timestamp("ts") / 60).cast("bigint")
         + COVERAGE_WINDOW_MIN).alias("end_min"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("start_min", "event_id")
    prior_max_end = F.max("end_min").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = pts.withColumn(
        "new_visit",
        F.when(
            prior_max_end.isNull() | (F.col("start_min") > prior_max_end), 1
        ).otherwise(0),
    )
    visits = flagged.withColumn(
        "visit_id",
        F.sum("new_visit").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    per_visit = visits.groupBy("user_id", "visit_id").agg(
        F.min("start_min").alias("v_start"),
        F.max("end_min").alias("v_end"),
    )
    return per_visit.groupBy("user_id").agg(
        F.count("*").alias("n_visits"),
        F.sum(F.col("v_end") - F.col("v_start")).cast("bigint")
        .alias("covered_minutes"),
    )


ATTRIB_WINDOW_US = 7 * 24 * 3_600_000_000  # 7-day attribution lookback


def events_attribution_last_touch(spark, sf_dir):
    """Last-touch marketing attribution: every purchase's revenue is
    credited to the user's most recent non-purchase event within a
    7-day lookback (channel "direct" when there is none) — the
    report-side twin of the as-of join family (j5), phrased the way a
    growth team asks it: revenue per acquisition channel.

    Scale shape: ONE user-keyed window shuffle; the last-touch
    timestamp and type come from two IGNORE-NULLS last() calls whose
    NULL pattern is identical, so both read the same preceding row.
    Revenue sums route through DECIMAL (order-free) per the engine's
    float-aggregate discipline."""
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id").orderBy("t_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = ev.select(
        "user_id", "event_id", "event_type", "value",
        F.unix_micros("ts").alias("t_us"),
    )
    non_purchase = F.col("event_type") != "purchase"
    touched = base.select(
        "event_type", "value", "t_us",
        F.last(F.when(non_purchase, F.col("t_us")), ignorenulls=True)
        .over(w).alias("lt_us"),
        F.last(F.when(non_purchase, F.col("event_type")), ignorenulls=True)
        .over(w).alias("lt_type"),
    ).where(F.col("event_type") == "purchase")
    channel = F.when(
        F.col("lt_us").isNotNull()
        & (F.col("t_us") - F.col("lt_us") <= ATTRIB_WINDOW_US),
        F.col("lt_type"),
    ).otherwise(F.lit("direct"))
    return (
        touched.select(channel.alias("channel"), "value")
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
            ).alias("revenue"),
        )
    )


LATENESS_BLOCK = 4096          # arrival-order block size for the carry
_LATE_BOUNDS_US = (0, 60_000_000, 600_000_000, 3_600_000_000)
_LATE_LABELS = ("in_order", "<=60s", "<=10m", "<=1h", ">1h")


def events_lateness_census(spark, sf_dir):
    """Event-time disorder census: for every event, its lateness vs the
    running maximum event time over ARRIVAL order (event_id — the
    ingest sequence), bucketed into the delays a watermark would have
    to absorb. This is how a streaming pipeline chooses
    withWatermark() empirically instead of guessing: the p-max bucket
    IS the bound on `dropDuplicatesWithinWatermark` state retention
    (the round-4 advice item on stream_windowed_distinct_users).

    Scale shape: the running max is a DISTRIBUTED prefix max — local
    running max inside fixed arrival blocks, plus a block-maxima carry
    (block-cardinality window, bounded; recursion to more levels is
    mechanical if block count ever grows past memory — same
    decomposition as sessions_concurrency_daily's prefix sum). The
    oracle runs the plain single-window global sweep, pinning the
    decomposition's equivalence."""
    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        F.floor(F.col("event_id") / LATENESS_BLOCK).cast("bigint").alias("blk"),
    ).localCheckpoint(eager=True)  # feeds the local window AND block maxima
    w_local = (
        Window.partitionBy("blk").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = base.withColumn("lmax", F.max("t_us").over(w_local))
    bmax = base.groupBy("blk").agg(F.max("t_us").alias("bmax"))
    w_carry = (
        Window.orderBy("blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = bmax.select("blk", F.max("bmax").over(w_carry).alias("prev_max"))
    lat = (
        local.join(F.broadcast(carry), "blk")
        .select(
            (
                F.greatest(
                    F.col("lmax"),
                    F.coalesce(F.col("prev_max"), F.lit(-(1 << 62))),
                ) - F.col("t_us")
            ).alias("l_us")
        )
    )
    bucket = F.when(F.col("l_us") <= 0, 0)
    for i, b in enumerate(_LATE_BOUNDS_US[1:], start=1):
        bucket = bucket.when(F.col("l_us") <= b, i)
    bucket = bucket.otherwise(len(_LATE_BOUNDS_US)).cast("bigint")
    label = F.element_at(F.array(*[F.lit(s) for s in _LATE_LABELS]),
                         (F.col("bucket_id") + 1).cast("int"))
    # count off the CHECKPOINTED base, not `lat` (r10 review: counting
    # lat re-executed the whole window+carry pipeline a second time
    # just to produce one number; base has the same row count)
    total = base.agg(F.count("*").cast("bigint").alias("total"))
    return (
        lat.select(bucket.alias("bucket_id"), "l_us")
        .groupBy("bucket_id")
        .agg(
            F.count("*").alias("n_events"),
            F.max("l_us").alias("mx_us"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "bucket_id",
            label.alias("label"),
            "n_events",
            F.round(F.col("n_events").cast("double") / F.col("total"), 6)
            .alias("share"),
            F.round(F.col("mx_us") / F.lit(1e6), 6).alias("max_lateness_s"),
        )
    )


NLL_SCALE = 1e12  # per-transition quantization -> order-free bigint sum


def ts_markov_perplexity(spark, sf_dir):
    """Per-user path surprisal under the corpus-wide first-order
    Markov chain: each user's average negative log transition
    probability (the anomaly score behind "this session doesn't look
    like normal navigation") — the scoring half of the model
    ts_markov_transitions estimates.

    Scale shape: the (from, to) pair stream is computed ONCE behind a
    checkpoint barrier (it feeds both the matrix estimate and the
    scoring join — one lead() pass over the user_id shuffle); the
    transition matrix is |types|^2-sized, so the scoring join
    broadcasts it. Determinism: each transition's -ln(cnt/row_total)
    is computed from exact integer ratios and quantized to bigint
    (floor(nll * 1e12)) before the per-user SUM, so accumulation is
    order-free — the same discipline as corpus_split_kl_drift."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    pairs = (
        ev.select(
            "user_id", "event_id",
            F.col("event_type").alias("from_type"),
            F.unix_micros("ts").alias("t_us"),
        )
        .withColumn("to_type", F.lead("from_type").over(w))
        .where(F.col("to_type").isNotNull())
        .select("user_id", "from_type", "to_type")
        .localCheckpoint(eager=True)  # feeds matrix AND scoring join
    )
    cells = pairs.groupBy("from_type", "to_type").agg(F.count("*").alias("cnt"))
    totals = cells.groupBy("from_type").agg(F.sum("cnt").alias("row_total"))
    matrix = cells.join(F.broadcast(totals), "from_type").select(
        "from_type", "to_type",
        F.floor(
            -F.log(F.col("cnt").cast("double") / F.col("row_total"))
            * F.lit(NLL_SCALE)
        ).cast("bigint").alias("nll_q"),
    )
    return (
        pairs.join(F.broadcast(matrix), ["from_type", "to_type"])
        .groupBy("user_id")
        .agg(F.count("*").alias("n_trans"), F.sum("nll_q").alias("sq"))
        .select(
            "user_id",
            "n_trans",
            F.round(
                F.col("sq").cast("double") / F.col("n_trans") / F.lit(NLL_SCALE),
                6,
            ).alias("avg_nll"),
        )
    )


_LATE_CASE = (
    "CASE WHEN l_us <= 0 THEN 0 "
    + " ".join(
        f"WHEN l_us <= {b} THEN {i}"
        for i, b in enumerate(_LATE_BOUNDS_US[1:], start=1)
    )
    + f" ELSE {len(_LATE_BOUNDS_US)} END"
)
_LATE_LABEL_CASE = (
    "CASE bucket_id "
    + " ".join(f"WHEN {i} THEN '{s}'" for i, s in enumerate(_LATE_LABELS))
    + " END"
)

ORACLE_SQL = {
    "events_attribution_last_touch": f"""
        WITH base AS (
            SELECT user_id, event_id, event_type, value,
                   epoch_us(ts) AS t_us
            FROM events
        ), touched AS (
            SELECT event_type, value, t_us,
                   last_value(CASE WHEN event_type <> 'purchase'
                                   THEN t_us END IGNORE NULLS)
                       OVER w AS lt_us,
                   last_value(CASE WHEN event_type <> 'purchase'
                                   THEN event_type END IGNORE NULLS)
                       OVER w AS lt_type
            FROM base
            WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        )
        SELECT CASE WHEN lt_us IS NOT NULL
                         AND t_us - lt_us <= {ATTRIB_WINDOW_US}
                    THEN lt_type ELSE 'direct' END AS channel,
               count(*) AS n_purchases,
               round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
                   AS revenue
        FROM touched WHERE event_type = 'purchase'
        GROUP BY 1
    """,
    "events_lateness_census": f"""
        WITH run AS (
            SELECT epoch_us(ts) AS t_us,
                   max(epoch_us(ts)) OVER (
                       ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS rm
            FROM events
        ), lat AS (
            SELECT rm - t_us AS l_us FROM run
        ), b AS (
            SELECT CAST({{late_case}} AS BIGINT) AS bucket_id, l_us FROM lat
        ), tot AS (
            SELECT CAST(count(*) AS BIGINT) AS total FROM b
        )
        SELECT bucket_id, {{label_case}} AS label, count(*) AS n_events,
               round(CAST(count(*) AS DOUBLE) / total, 6) AS share,
               round(max(l_us) / 1e6, 6) AS max_lateness_s
        FROM b, tot GROUP BY bucket_id, total
    """.replace("{late_case}", _LATE_CASE).replace("{label_case}", _LATE_LABEL_CASE),
    "ts_markov_perplexity": f"""
        WITH pairs AS (
            SELECT user_id, event_type AS from_type,
                   lead(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS to_type
            FROM events
        ), p2 AS (
            SELECT user_id, from_type, to_type FROM pairs
            WHERE to_type IS NOT NULL
        ), cells AS (
            SELECT from_type, to_type, count(*) AS cnt FROM p2 GROUP BY 1, 2
        ), totals AS (
            SELECT from_type, CAST(sum(cnt) AS BIGINT) AS row_total
            FROM cells GROUP BY 1
        ), matrix AS (
            SELECT from_type, to_type,
                   CAST(floor(-ln(CAST(cnt AS DOUBLE) / row_total)
                              * {NLL_SCALE!r}) AS BIGINT) AS nll_q
            FROM cells JOIN totals USING (from_type)
        )
        SELECT user_id, count(*) AS n_trans,
               round(CAST(sum(nll_q) AS DOUBLE) / count(*) / {NLL_SCALE!r},
                     6) AS avg_nll
        FROM p2 JOIN matrix USING (from_type, to_type)
        GROUP BY user_id
    """,
    "ts_active_time_coverage": f"""
        WITH pts AS (
            SELECT user_id,
                   CAST(floor(epoch(ts)) AS BIGINT) // 60 AS start_min,
                   CAST(floor(epoch(ts)) AS BIGINT) // 60
                       + {COVERAGE_WINDOW_MIN} AS end_min,
                   event_id
            FROM events
        ), flagged AS (
            SELECT user_id, start_min, end_min, event_id,
                   CASE WHEN max(end_min) OVER (
                            PARTITION BY user_id
                            ORDER BY start_min, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                            IS NULL
                         OR start_min > max(end_min) OVER (
                            PARTITION BY user_id
                            ORDER BY start_min, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        THEN 1 ELSE 0 END AS new_visit
            FROM pts
        ), visits AS (
            SELECT user_id, start_min, end_min,
                   CAST(sum(new_visit) OVER (
                       PARTITION BY user_id ORDER BY start_min, event_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS visit_id
            FROM flagged
        ), per_visit AS (
            SELECT user_id, visit_id,
                   min(start_min) AS v_start, max(end_min) AS v_end
            FROM visits GROUP BY 1, 2
        )
        SELECT user_id, count(*) AS n_visits,
               CAST(sum(v_end - v_start) AS BIGINT) AS covered_minutes
        FROM per_visit GROUP BY user_id
    """,

    "ts_markov_transitions": """
        WITH pairs AS (
            SELECT event_type AS from_type,
                   lead(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS to_type
            FROM events
        ), cells AS (
            SELECT from_type, to_type, count(*) AS cnt FROM pairs
            WHERE to_type IS NOT NULL GROUP BY 1, 2
        ), totals AS (
            SELECT from_type, sum(cnt) AS row_total FROM cells GROUP BY 1
        )
        SELECT from_type, to_type, cnt,
               round(cnt / row_total, 6) AS p
        FROM cells JOIN totals USING (from_type)
    """,
    "sessions_concurrency_daily": f"""
        WITH staged AS (
            SELECT user_id, event_id, epoch_us(ts) AS t_us,
                   lag(epoch_us(ts)) OVER w AS prev_ts
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        ), numbered AS (
            SELECT user_id, t_us,
                   sum(CASE WHEN prev_ts IS NULL
                              OR t_us - prev_ts > {CONC_GAP_US}
                            THEN 1 ELSE 0 END) OVER (
                       PARTITION BY user_id ORDER BY t_us, event_id
                       ROWS UNBOUNDED PRECEDING) AS sess_no
            FROM staged
        ), sessions AS (
            SELECT user_id, sess_no,
                   min(t_us) AS start_us, max(t_us) AS end_us
            FROM numbered GROUP BY user_id, sess_no
        ), boundaries AS (
            SELECT start_us AS t_us, 1 AS delta FROM sessions
            UNION ALL
            SELECT end_us + 1, -1 FROM sessions
        ), swept AS (
            SELECT CAST(make_timestamp(t_us) AS DATE) AS day,
                   t_us, delta,
                   sum(delta) OVER (
                       ORDER BY t_us, delta DESC
                       ROWS UNBOUNDED PRECEDING) AS run
            FROM boundaries
        ), spine AS (
            SELECT CAST(unnest(generate_series(
                       min(day), max(day), INTERVAL 1 DAY)) AS DATE) AS day
            FROM swept
        ), day_start AS (
            -- concurrency in effect at each day's midnight = the
            -- global run at the last boundary before the day (0 if
            -- none) — a day inside a multi-day session, or one whose
            -- sweep only declines, peaks here, not at a boundary row
            SELECT s.day,
                   coalesce((SELECT r.run FROM swept r
                             WHERE r.day < s.day
                             ORDER BY r.t_us DESC, r.delta ASC
                             LIMIT 1), 0) AS start_run
            FROM spine s
        ), in_day AS (
            SELECT day, max(run) AS mr FROM swept GROUP BY day
        )
        SELECT d.day,
               CAST(greatest(d.start_run, coalesce(i.mr, d.start_run))
                    AS BIGINT) AS peak_concurrent
        FROM day_start d LEFT JOIN in_day i USING (day)
    """,
    "ts_trend_slope": """
        SELECT event_type,
               count(*) AS n,
               round(regr_slope(value,
                     CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS DOUBLE)), 6)
                   AS slope_per_day,
               round(regr_intercept(value,
                     CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS DOUBLE)), 4)
                   AS intercept,
               round(regr_r2(value,
                     CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS DOUBLE)), 6)
                   AS r2
        FROM events GROUP BY event_type
    """,
    "ts_active_users": f"""
        WITH pairs AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ), dau AS (
            SELECT day, count(*) AS dau FROM pairs GROUP BY day
        ), contrib AS (
            SELECT user_id, day + CAST(i.n AS INTEGER) AS tday
            FROM pairs, (SELECT unnest(range(0, {WAU_DAYS})) AS n) i
        ), wau AS (
            SELECT tday, count(DISTINCT user_id) AS wau
            FROM contrib JOIN (SELECT day AS tday FROM dau) USING (tday)
            GROUP BY tday
        )
        SELECT d.day, d.dau, w.wau
        FROM dau d JOIN wau w ON d.day = w.tday
    """,
    "ts_adjacent_pattern": f"""
        WITH staged AS (
            SELECT user_id, event_type, epoch_us(ts) AS t_us,
                   lead(event_type) OVER w AS next_type,
                   lead(epoch_us(ts)) OVER w AS next_t_us
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        )
        SELECT user_id, count(*) AS n_error_then_purchase
        FROM staged
        WHERE event_type = 'error' AND next_type = 'purchase'
          AND next_t_us - t_us <= {PATTERN_WINDOW_US}
        GROUP BY user_id
    """,
    "ts_funnel_stages": """
        WITH ev AS (
            SELECT user_id, event_type, epoch_us(ts) AS t_us FROM events
        ), s1 AS (
            SELECT user_id, min(t_us) AS t_view_us FROM ev
            WHERE event_type = 'view' GROUP BY user_id
        ), s2 AS (
            SELECT ev.user_id, min(t_us) AS t_click_us
            FROM ev JOIN s1 USING (user_id)
            WHERE ev.event_type = 'click' AND ev.t_us > s1.t_view_us
            GROUP BY ev.user_id
        ), s3 AS (
            SELECT ev.user_id, min(t_us) AS t_purchase_us
            FROM ev JOIN s2 USING (user_id)
            WHERE ev.event_type = 'purchase' AND ev.t_us > s2.t_click_us
            GROUP BY ev.user_id
        )
        SELECT s1.user_id, s1.t_view_us, s2.t_click_us, s3.t_purchase_us
        FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    """,
    "ts_cohort_retention": """
        WITH active AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('week', ts) AS DATE) AS week
            FROM events
        ), cohort AS (
            SELECT user_id, min(week) AS cohort_week FROM active
            GROUP BY user_id
        )
        SELECT cohort_week,
               CAST((active.week - cohort.cohort_week) / 7 AS INT) AS week_offset,
               count(DISTINCT user_id) AS n_users
        FROM active JOIN cohort USING (user_id)
        GROUP BY 1, 2
    """,
    "ts_rolling_stats": f"""
        WITH staged AS (
            SELECT event_id, user_id, epoch_us(ts) AS t_us,
                   CAST(value AS DECIMAL(18,6)) AS val_dec
            FROM events
        )
        SELECT event_id, user_id,
               count(*) OVER w_range AS n_1h,
               CAST(sum(val_dec) OVER w_range AS DOUBLE) AS sum_1h,
               t_us - lag(t_us) OVER w_lag AS gap_us
        FROM staged
        WINDOW
            w_range AS (PARTITION BY user_id ORDER BY t_us
                        RANGE BETWEEN {ROLL_WINDOW_US} PRECEDING
                        AND CURRENT ROW),
            w_lag AS (PARTITION BY user_id ORDER BY t_us, event_id)
    """,
    "ts_user_cadence": """
        WITH gaps AS (
            SELECT user_id, epoch_us(ts) AS t_us,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                   ) AS gap_us
            FROM events
        )
        SELECT user_id, count(*) AS n_events,
               max(t_us) - min(t_us) AS span_us,
               median(gap_us) AS median_gap_us,
               max(gap_us) AS max_gap_us
        FROM gaps GROUP BY user_id
    """,
}

QUERIES = {
    "ts_active_time_coverage": ts_active_time_coverage,
    "ts_rolling_stats": ts_rolling_stats,
    "ts_user_cadence": ts_user_cadence,
    "ts_funnel_stages": ts_funnel_stages,
    "ts_cohort_retention": ts_cohort_retention,
    "ts_adjacent_pattern": ts_adjacent_pattern,
    "ts_active_users": ts_active_users,
    "ts_trend_slope": ts_trend_slope,
    "sessions_concurrency_daily": sessions_concurrency_daily,
    "ts_markov_transitions": ts_markov_transitions,
    "ts_markov_perplexity": ts_markov_perplexity,
    "events_lateness_census": events_lateness_census,
    "events_attribution_last_touch": events_attribution_last_touch,
}
