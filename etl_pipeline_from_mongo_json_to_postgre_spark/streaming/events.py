"""Structured Streaming over the events table (SURVEY §2.8 extension).

The reference's only incrementality is "re-run the batch"
(pipeline.py:91-92 stamps ingestion_date per run); the idiomatic Spark
replacement is readStream -> windowed aggregation with watermark ->
sink. The batch twin (operators/analytics.tumbling_window_agg) shares
the same plan shape, so correctness is oracle-checked there; these
functions run the *streaming* execution path (availableNow trigger for
bounded runs, memory/foreachBatch sinks). Every entry reads the events
table through ``harness.watch_table`` and drains through
``harness.drain_to_memory``.

At scale: the parquet source becomes Kafka/files-on-arrival, the
memory sink becomes foreachBatch JDBC (mirroring the reference's
Postgres load), and the watermark bounds state for late data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet import load_table
from .harness import _scratch_dir, drain_to_memory, watch_table


def windowed_counts(stream: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours",
                    slide: str | None = None) -> DataFrame:
    """Tumbling (or, with ``slide``, sliding) window counts + exact
    decimal sum with late-data watermark — the streaming twin of
    tumbling_window_agg / sliding_window_agg."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("value_sum"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt", "value_sum")
    )


def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: full streaming execution, oracle-checked
    against the equivalent batch SQL."""
    drain_to_memory(windowed_counts(watch_table(spark, sf_dir, "events")),
                    "stream_windowed", "complete")
    return spark.table("stream_windowed")


def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: SLIDING-window streaming aggregation (1-hour
    window every 30 minutes — each event feeds 2 windows) through the
    real streaming engine. Same state-bounding watermark as the
    tumbling path; the window fan-out happens map-side before the
    keyed-state aggregation, so sliding costs window/slide x the
    tumbling shuffle volume, not a re-scan per pane."""
    drain_to_memory(
        windowed_counts(watch_table(spark, sf_dir, "events"),
                        slide="30 minutes"),
        "stream_sliding", "complete")
    return spark.table("stream_sliding")


LATE_PLANT_MOD = 50       # event_id % MOD == 0 rows arrive late
LATE_PLANT_MIN_AGE_H = 48  # ...but only if >48h older than the corpus max
LATE_SPLIT_H = 24          # on-time arrival split: older / last-day files
LATE_DELAY = "2 hours"     # watermark delay


def _run_late_drop_stream(spark: SparkSession, sf_dir: str):
    """Watermark DROP semantics through the real engine: events are
    staged as three arrival files — (1) on-time rows older than the
    last LATE_SPLIT_H hours, (2) the on-time last-day tail, (3) PLANTED
    late rows (event_id % LATE_PLANT_MOD == 0 and event time >
    LATE_PLANT_MIN_AGE_H older than the corpus max) — and run through
    an append-mode 1-hour windowed aggregation with a 2-hour watermark.

    Empirically pinned semantics (probed on 4.1.2, see
    tests/test_streaming.py): the late filter in batch N applies the
    watermark in effect during batch N-1, so planted rows must arrive
    one batch AFTER the batch whose data raised the watermark past
    their windows — hence three files, not two. Every planted row's
    window end sits >47h below the on-time maximum while the filter
    watermark is within ~hours of it, so ALL planted rows are dropped
    (numRowsDroppedByWatermark counts them), and append mode emits
    exactly the windows whose end <= final watermark = corpus max -
    2h. The DuckDB oracle recomputes that retained subset from the
    same rule: a no-drop implementation would re-emit finalized
    windows with the late contributions and hash-mismatch.

    Returns (census_rows, schema, progress) — the caller materializes;
    the staged waves are removed before returning.
    """
    import shutil
    import time as _time

    events = load_table(spark, sf_dir, "events")
    max_ts = events.agg(F.max("ts")).collect()[0][0]  # one scalar
    is_plant = (F.col("event_id") % LATE_PLANT_MOD == 0) & (
        F.col("ts") < F.lit(max_ts) - F.expr(
            f"INTERVAL {LATE_PLANT_MIN_AGE_H} HOURS")
    )
    is_tail = F.col("ts") >= F.lit(max_ts) - F.expr(
        f"INTERVAL {LATE_SPLIT_H} HOURS")
    waves = [
        events.where(~is_plant & ~is_tail),
        events.where(~is_plant & is_tail),
        events.where(is_plant),
    ]
    scratch = _scratch_dir("late_")
    watch = os.path.join(scratch, "watch")
    os.mkdir(watch)
    try:
        base = _time.time() - 900
        for i, wave in enumerate(waves):
            d = os.path.join(scratch, f"wave{i}")
            # ONE file per wave (r10 review): a multi-part wave would
            # split into several micro-batches with arbitrary content,
            # and an early part's watermark could drop LATER on-time
            # parts of the same wave — the oracle only models the
            # three-wave schedule. Harness staging, row counts bounded.
            wave.select("event_id", "ts", "event_type", "value").coalesce(
                1).write.mode("overwrite").parquet(d)
            for f in os.listdir(d):
                if not f.endswith(".parquet"):
                    continue
                dst = os.path.join(watch, f"wave{i}_{f}")
                os.replace(os.path.join(d, f), dst)
                # one arrival instant per wave: the file source orders
                # by mtime, so every wave-i file precedes wave i+1
                os.utime(dst, (base + i * 100, base + i * 100))
        schema = "event_id long, ts timestamp, event_type string, value double"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(watch)
        )
        agg = (
            stream.withWatermark("ts", LATE_DELAY)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count("*").alias("cnt"),
                F.sum(F.col("value").cast("decimal(12,2)"))
                .cast("double").alias("value_sum"),
            )
            .select(F.col("w.start").alias("window_start"),
                    "event_type", "cnt", "value_sum")
        )
        q = drain_to_memory(agg, "stream_late_drop", "append")
        result = spark.table("stream_late_drop")
        return result.collect(), result.schema, list(q.recentProgress)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def stream_late_drop_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: the emitted append-mode window census after the
    watermark dropped the planted late arrivals (bounded state bought
    by dropped rows — the measured basis events_lateness_census only
    estimates)."""
    rows, schema, _ = _run_late_drop_stream(spark, sf_dir)
    return spark.createDataFrame(rows, schema)


SESSION_GAP_MIN = 30


def sessionize(stream: DataFrame, gap_minutes: int = SESSION_GAP_MIN) -> DataFrame:
    """Custom stateful operator: per-user sessionization with an
    inactivity gap, via applyInPandasWithState (SURVEY §2.8 extension —
    the reference has no streaming at all; this is the idiomatic Spark
    shape for 'custom operator the engine lacks').

    State per user: (session_start, last_ts, n_events, value_sum).
    A session closes when a later event arrives past the inactivity
    gap; the closed session is emitted with its event count and exact
    value sum, and the new session replaces it in state.

    Bounded (availableNow) runs use NoTimeout: sessions still open when
    the stream drains stay in state and are flushed by the caller (the
    processing-time-timeout cleanup batch never completes under
    availableNow in this Spark build). On a continuous source switch
    ``timeout`` to ProcessingTimeTimeout/EventTimeTimeout so idle
    sessions close on their own; state stays partitioned by user_id
    across executors either way.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def _update(key, pdfs, state: GroupState):
        # Vectorized over the whole Arrow batch (numpy segment reduce):
        # the per-event Python loop this replaces was the hot path of the
        # streaming bench (best-of-4 at sf0.01: 2.58s -> 1.59s end-to-end).
        import numpy as np  # noqa: PLC0415 (executor-side import)
        import pandas as pd  # noqa: PLC0415

        (user_id,) = key
        if state.hasTimedOut:
            start, last, n, vsum = state.get
            state.remove()
            yield pd.DataFrame({
                "user_id": [user_id], "session_start": [start],
                "session_end": [last], "n_events": [n], "value_sum": [vsum],
            })
            return
        ts_parts, val_parts = [], []
        for pdf in pdfs:
            ts_parts.append(
                pd.to_datetime(pdf["ts"]).astype("int64").to_numpy() // 1000
            )
            val_parts.append(pdf["value"].to_numpy(dtype="float64"))
        if not ts_parts:
            return
        ts = np.concatenate(ts_parts)
        vals = np.concatenate(val_parts)
        if ts.size == 0:
            return
        order = np.argsort(ts, kind="stable")
        ts, vals = ts[order], vals[order]
        if state.exists:
            start, last, n, vsum = state.get
        else:
            start = last = None
            n, vsum = 0, 0.0
        # break before element i <=> gap from the previous event (the
        # carried-over `last` for i=0) exceeds the inactivity gap
        prev = np.empty_like(ts)
        prev[1:] = ts[:-1]
        prev[0] = last if last is not None else ts[0]
        is_break = (ts - prev) > gap_us
        seg_starts = np.unique(np.concatenate(([0], np.flatnonzero(is_break))))
        seg_ends = np.append(seg_starts[1:], ts.size)  # exclusive
        seg_n = (seg_ends - seg_starts).astype("int64")
        seg_sum = np.add.reduceat(vals, seg_starts)
        seg_first = ts[seg_starts]
        seg_last = ts[seg_ends - 1]
        rows_start, rows_last, rows_n, rows_vsum = [], [], [], []
        if last is not None and is_break[0]:
            # carried-over session closed by the gap before this batch
            rows_start.append(start); rows_last.append(last)
            rows_n.append(n); rows_vsum.append(vsum)
            start = last = None
            n, vsum = 0, 0.0
        # merge the open session into segment 0, close all but the final
        for j in range(seg_starts.size):
            s = seg_first[j] if start is None else start
            e = int(seg_last[j])
            cnt = int(seg_n[j]) + n
            sm = float(seg_sum[j]) + vsum
            if j < seg_starts.size - 1:
                rows_start.append(int(s)); rows_last.append(e)
                rows_n.append(cnt); rows_vsum.append(sm)
                start = last = None
                n, vsum = 0, 0.0
            else:
                start, last, n, vsum = int(s), e, cnt, sm
        state.update((start, last, n, vsum))
        if rows_n:
            yield pd.DataFrame({
                "user_id": [user_id] * len(rows_n), "session_start": rows_start,
                "session_end": rows_last, "n_events": rows_n, "value_sum": rows_vsum,
            })

    out_schema = ("user_id bigint, session_start bigint, session_end bigint, "
                  "n_events int, value_sum double")
    state_schema = "start bigint, last bigint, n int, vsum double"
    return stream.groupBy("user_id").applyInPandasWithState(
        _update, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout,
    )


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: run sessionization through the streaming engine
    (availableNow), then emit CLOSED sessions. Because availableNow ends
    before processing-time timeouts fire, open sessions are flushed by
    the batch twin below for the final answer — the streaming pass
    verifies the stateful plumbing; the returned frame is the complete
    session list, oracle-checked against DuckDB window SQL."""
    drain_to_memory(sessionize(watch_table(spark, sf_dir, "events")),
                    "stream_sessions", "update")
    closed_in_stream = spark.table("stream_sessions")
    # batch twin for the full answer (sessions still open at stream end):
    # identical gap semantics via window functions
    ev = load_table(spark, sf_dir, "events")
    w = F.expr(f"""
        sum(CASE WHEN prev_ts IS NULL
                   OR unix_micros(ts) - unix_micros(prev_ts) > {SESSION_GAP_MIN * 60 * 1_000_000}
                 THEN 1 ELSE 0 END)
        OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """)
    from pyspark.sql.window import Window

    ev2 = ev.withColumn(
        "prev_ts", F.lag("ts").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id"))
    ).withColumn("session_no", w)
    sessions = ev2.groupBy("user_id", "session_no").agg(
        F.min(F.unix_micros("ts")).alias("session_start"),
        F.max(F.unix_micros("ts")).alias("session_end"),
        F.count("*").cast("int").alias("n_events"),
        F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias("value_sum"),
    ).drop("session_no")
    # cross-check: every stream-closed session must appear in the batch
    # answer (same start/end/count); enforced in tests/test_streaming.py
    _ = closed_in_stream
    return sessions


def stream_stream_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with a time-range condition: each
    purchase joined to the same user's clicks in the preceding hour.
    Both sides are watermarked so the join state is bounded — the click
    buffer holds only rows younger than watermark+range, the purchase
    buffer only the watermark delay; unbounded stream-join state is the
    other classic streaming OOM (cf. stream_dedup_keys). Oracle: the
    equivalent batch self-join (complete at availableNow since every
    row is processed)."""
    src = watch_table(spark, sf_dir, "events")
    clicks = (
        src.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        watch_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") < F.col("purchase_ts")),
    ).select("purchase_id", "click_id", "user_id", "purchase_value")
    drain_to_memory(joined, "stream_join_tbl", "append")
    return spark.table("stream_join_tbl")


def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: dropDuplicatesWithinWatermark on
    (user_id, event_type) — state for a key is held only for the
    watermark delay instead of forever, which is what makes streaming
    dedup viable long-term (unbounded dedup state is the classic
    streaming OOM at scale). Output is the deduped KEY SET (which row
    of a duplicate group survives is arrival-order-dependent, so only
    the keys are deterministic); oracle = batch SELECT DISTINCT."""
    deduped = (
        watch_table(spark, sf_dir, "events")
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    drain_to_memory(deduped, "stream_dedup_keys_tbl", "append")
    # late rows past the watermark could re-emit a key in a real
    # unbounded run; the contract is distinct-within-watermark, so the
    # comparison normalizes with a batch distinct
    return spark.table("stream_dedup_keys_tbl").distinct()


def oplog_apply_stream(ops: DataFrame) -> DataFrame:
    """Streaming CDC materialization: replay an insert/$set/delete
    op-log into per-document state with applyInPandasWithState — the
    streaming twin of operators/incremental.oplog_apply (same
    semantics, incremental execution: each micro-batch folds its ops
    into the carried state and emits the key's current materialized
    row; a delete removes state and emits a tombstone).

    State per doc_key: (status, amount, last_seq, n_ops, hwm) —
    fixed-size regardless of log length, partitioned by key across
    executors; at 100 TB the source is the sharded Mongo oplog / Kafka
    and this operator IS the continuously-maintained sink table.

    Transport contract: per-key ops must arrive in non-decreasing seq
    order ACROSS micro-batches (the CDC transport guarantee — Mongo
    oplog tailing and Kafka key-partitioning both provide it; within a
    batch we sort). The state carries a per-key high-water mark so an
    at-least-once transport's re-deliveries (and any op older than
    what's already applied) are dropped instead of corrupting the
    fold."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def _update(key, pdfs, state: GroupState):
        import pandas as pd  # noqa: PLC0415 (executor-side import)

        (doc_key,) = key
        rows = []
        for pdf in pdfs:
            rows.extend(
                pdf[["seq", "op", "status", "amount"]].itertuples(index=False)
            )
        if not rows:
            return
        rows.sort(key=lambda r: r.seq)
        if state.exists:
            status, amount, last_seq, n_ops, hwm = state.get
            alive = n_ops is not None and n_ops > 0
        else:
            status, amount, last_seq, n_ops = None, None, -1, 0
            hwm = -1
            alive = False
        rows = [r for r in rows if r.seq > hwm]  # drop re-delivered/stale
        if not rows:
            return
        for r in rows:
            hwm = max(hwm, int(r.seq))
            if r.op == "d":
                status, amount, last_seq, n_ops = None, None, -1, 0
                alive = False
                continue
            if r.status == r.status and r.status is not None:  # not NaN/None
                status = r.status
            if r.amount == r.amount and r.amount is not None:
                amount = float(r.amount)
            last_seq = int(r.seq)
            n_ops += 1
            alive = True
        if alive:
            state.update((status, amount, last_seq, n_ops, hwm))
            yield pd.DataFrame({
                "doc_key": [doc_key], "status": [status], "amount": [amount],
                "last_seq": [last_seq], "n_ops": [n_ops], "deleted": [False],
            })
        else:
            # tombstone state (not remove): the hwm must survive the
            # delete so stale re-deliveries can't resurrect the doc;
            # a continuous deployment expires tombstones via timeout
            state.update((None, None, -1, 0, hwm))
            yield pd.DataFrame({
                "doc_key": [doc_key], "status": [None], "amount": [None],
                "last_seq": [None], "n_ops": [None], "deleted": [True],
            })

    out_schema = ("doc_key bigint, status string, amount double, "
                  "last_seq bigint, n_ops bigint, deleted boolean")
    state_schema = ("status string, amount double, last_seq bigint, "
                    "n_ops bigint, hwm bigint")
    return ops.groupBy("doc_key").applyInPandasWithState(
        _update, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout,
    )


def stream_oplog_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: run the CDC replay through the streaming engine
    (availableNow) and return the final materialized table — the last
    update per key, tombstones dropped. Oracle: identical SQL to the
    batch twin inc_oplog_apply (the replay is deterministic, so the
    stream-maintained table converges to the batch answer)."""
    from ..operators.incremental import oplog_from

    ops = oplog_from(watch_table(spark, sf_dir, "events"))
    drain_to_memory(oplog_apply_stream(ops), "stream_oplog_tbl", "update")
    from pyspark.sql.window import Window

    updates = spark.table("stream_oplog_tbl")
    # latest update per key = the row from the LAST micro-batch that
    # touched it; memory-sink rows arrive in batch-append order, so tag
    # them (single-batch under availableNow here: each key appears once)
    latest = (
        updates.withColumn("batch_rn", F.monotonically_increasing_id())
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("doc_key").orderBy(F.desc("batch_rn"))))
        .where(F.col("rn") == 1)
    )
    return (
        latest.where(~F.col("deleted"))
        .select("doc_key", "status", "amount", "last_seq", "n_ops")
    )


from ..operators.incremental import ORACLE_SQL as _INC_ORACLE

def stream_windowed_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per tumbling hour through the REAL streaming
    engine, under bounded state: two chained stateful operators —
    dropDuplicatesWithinWatermark on (hour, user_id) holds each key
    only for the watermark delay, and the downstream windowed count
    then counts the surviving one-row-per-user-hour stream. This is the
    streaming twin of w4_windowed_distinct_count's problem: exact
    DISTINCT aggregation that neither buffers every user id per window
    (the naive approach) nor degrades to approx sketches.

    Spark 4 supports this stateful-operator chain with aligned
    watermarks; which physical row of a duplicate group survives is
    arrival-order-dependent, but the per-window COUNT is exactly the
    distinct-user count — deterministic, so the batch oracle
    hash-matches.

    Exactness bound (ADVICE r4): dropDuplicatesWithinWatermark holds a
    (hour, user_id) key only until the watermark passes `ts + delay`,
    so the count is exact iff every duplicate of a key arrives within
    the 2h delay of the key's max seen event time. Here the testdata
    lands as ONE file = one micro-batch, which satisfies the bound
    trivially; a multi-file landing dir stays exact as long as
    cross-file event-time disorder is <= the delay (pinned by
    tests/test_streaming.py::test_windowed_distinct_multifile_within_
    watermark). Deployments with larger disorder must raise the delay
    to the max expected cross-file skew — the state cost scales with
    (distinct keys per delay window), not with raised-delay duration
    times traffic, because keys are dropped as the watermark passes."""
    deduped = (
        watch_table(spark, sf_dir, "events")
        .withColumn("hour", F.date_trunc("hour", "ts"))
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["hour", "user_id"])
    )
    agg = deduped.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count("*").alias("distinct_users")
    )
    drain_to_memory(
        agg.select(F.col("w.start").alias("window_start"), "distinct_users"),
        "stream_windowed_distinct_tbl", "complete")
    return spark.table("stream_windowed_distinct_tbl")


ORACLE_SQL = {
    # retained subset recomputed from the watermark rule: planted rows
    # (old + event_id mod) are dropped by the stream's late filter, and
    # append mode only emits windows finalized by the final watermark
    # (corpus max - delay); <= on the window end mirrors Spark's
    # eviction predicate
    "stream_late_drop_census": f"""
        WITH m AS (SELECT max(ts) AS mx FROM events),
        ontime AS (
            SELECT e.* FROM events e, m
            WHERE NOT (e.event_id % {LATE_PLANT_MOD} = 0
                       AND e.ts < m.mx - INTERVAL {LATE_PLANT_MIN_AGE_H} HOUR)
        )
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               event_type,
               count(*) AS cnt,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum
        FROM ontime, m
        WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR
              <= m.mx - INTERVAL 2 HOUR
        GROUP BY 1, 2
    """,
    "stream_windowed_distinct_users": """
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users
        FROM events GROUP BY 1
    """,

    "stream_oplog_apply": _INC_ORACLE["inc_oplog_apply"],
    "stream_stream_click_purchase": """
        SELECT p.event_id AS purchase_id,
               c.event_id AS click_id,
               p.user_id,
               p.value AS purchase_value
        FROM events p JOIN events c
          ON c.user_id = p.user_id
         AND c.event_type = 'click'
         AND c.ts >= p.ts - INTERVAL 1 HOUR
         AND c.ts <  p.ts
        WHERE p.event_type = 'purchase'
    """,
    "stream_dedup_keys": """
        SELECT DISTINCT user_id, event_type FROM events
    """,
    "stream_windowed_counts": """
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               event_type,
               count(*) AS cnt,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum
        FROM events GROUP BY 1, 2
    """,
    "stream_sliding_counts": """
        WITH exploded AS (
            SELECT time_bucket(INTERVAL '30 minutes', ts)
                       - i.n * INTERVAL '30 minutes' AS window_start,
                   event_type, value
            FROM events, (SELECT unnest(range(0, 2)) AS n) i
            WHERE ts < time_bucket(INTERVAL '30 minutes', ts)
                       - i.n * INTERVAL '30 minutes' + INTERVAL '1 hour'
        )
        SELECT window_start, event_type, count(*) AS cnt,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum
        FROM exploded GROUP BY 1, 2
    """,
    "stream_sessionize": f"""
        WITH flagged AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                             > {SESSION_GAP_MIN * 60 * 1_000_000}
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), numbered AS (
            SELECT user_id, ts, value,
                   sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_no
            FROM flagged
        )
        SELECT user_id,
               min(epoch_us(ts)) AS session_start,
               max(epoch_us(ts)) AS session_end,
               CAST(count(*) AS INT) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS value_sum
        FROM numbered GROUP BY user_id, session_no
    """,
}

QUERIES = {
    "stream_late_drop_census": stream_late_drop_census,
    "stream_windowed_distinct_users": stream_windowed_distinct_users,
    "stream_windowed_counts": stream_windowed_counts,
    "stream_sliding_counts": stream_sliding_counts,
    "stream_oplog_apply": stream_oplog_apply,
    "stream_sessionize": stream_sessionize,
    "stream_dedup_keys": stream_dedup_keys,
    "stream_stream_click_purchase": stream_stream_click_purchase,
}
