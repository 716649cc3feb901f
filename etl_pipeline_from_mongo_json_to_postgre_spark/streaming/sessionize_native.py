"""Native session-window sessionization (VERDICT r8 task 2).

``streaming/events.sessionize`` demonstrates the CUSTOM stateful
operator shape (applyInPandasWithState) — kept as that demo — but its
outputs (session start/end, event count, value sum) are exactly what
Spark's built-in ``F.session_window`` (JVM-side since 3.2) computes
natively. At 100 TB the native form is the one to run: no JVM->Python
Arrow boundary per event, state lives in the streaming state store
with watermark eviction, and the aggregation participates in
whole-stage codegen. Measured at sf0.1: ~4x faster end-to-end than the
Python-state twin (see BASELINE.md r9).

Boundary semantics note (probed live, r9 review): ``session_window``
treats a successor exactly ``gap`` later as the SAME session — two
events at 00:00 and 00:30 with a 30-minute gap merge; the split
happens only at diff > gap. That is byte-identical to the Python-state
twin's rule, so the two operators share one boundary semantics and the
oracle below uses the same strict-> split as stream_sessionize's (the
fixtures additionally contain no exact-gap adjacency at any shipped
SF, also probed).

The entry reads the events table through ``harness.watch_table`` and
drains through ``harness.drain_to_memory``; the only thing it adds is
a scoped shuffle-partition setting for its state store.

Reference parity: the reference has no streaming at all (its only
incrementality is re-running the batch, etl_pipeline/pipeline.py); this
is the SURVEY §2.8 extension family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .events import SESSION_GAP_MIN
from .harness import drain_to_memory, watch_table

GAP = f"{SESSION_GAP_MIN} minutes"


def sessionize_native(stream: DataFrame, gap: str = GAP) -> DataFrame:
    """groupBy(user_id, session_window) aggregation — the whole
    operator is three built-in expressions; Catalyst plans the session
    merge (UpdatingSessionsExec + MergingSessionsExec) JVM-side."""
    return (
        stream.groupBy("user_id", F.session_window("ts", gap))
        .agg(
            F.min(F.unix_micros("ts")).alias("session_start"),
            F.max(F.unix_micros("ts")).alias("session_end"),
            F.count("*").cast("int").alias("n_events"),
            F.sum(F.col("value").cast("decimal(14,2)"))
            .cast("double").alias("value_sum"),
        )
        .drop("session_window")
    )


def stream_sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: run the native session-window aggregation
    through the real streaming engine (availableNow). Complete output
    mode: a bounded availableNow run drains the whole source, so the
    final result table holds every session — including those still
    open at end-of-stream — with no flush step (the Python-state twin
    needs a batch flush for exactly that reason). A continuous
    deployment would switch to append mode + ``withWatermark`` so the
    state store evicts sessions older than the lateness bound."""
    # State-partition sizing: a streaming aggregation's state store
    # count is fixed by spark.sql.shuffle.partitions at FIRST run of a
    # checkpoint; each partition pays a per-commit file create/fsync.
    # For this bounded single-micro-batch run, 8 partitions halves the
    # wall vs 32 (interleaved A/B r9: median 1.24 s vs 1.72 s at sf0.1
    # — commit overhead dominates at ~3k sessions/partition). On a real
    # cluster, size it to executor count x cores; the conf flip is
    # scoped-and-restored (same single-threaded-session assumption as
    # graph.checkpoint_partitioned).
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        drain_to_memory(
            sessionize_native(watch_table(spark, sf_dir, "events")),
            "stream_sessions_native", "complete")
        return spark.table("stream_sessions_native")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


QUERIES = {
    "stream_sessionize_native": stream_sessionize_native,
}

ORACLE_SQL = {
    # identical to the stream_sessionize oracle — the native operator's
    # boundary rule matches the Python twin's exactly (probed: merge at
    # diff == gap, split at diff > gap; see module docstring)
    "stream_sessionize_native": f"""
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
