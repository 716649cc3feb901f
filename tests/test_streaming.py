"""Structured Streaming execution path (availableNow -> memory sink)."""

from etl_pipeline_from_mongo_json_to_postgre_spark.streaming import (
    drain_to_memory,
    watch_table,
    windowed_counts,
)


def test_stream_matches_batch_plan(spark, sf_dir):
    from etl_pipeline_from_mongo_json_to_postgre_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    drain_to_memory(windowed_counts(watch_table(spark, sf_dir, "events")),
                    "t_stream_test", "complete")
    result = spark.table("t_stream_test")
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("value_sum"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt", "value_sum")
    )
    got = {tuple(r) for r in result.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want
    assert len(got) > 0


def test_sessionize_stream_matches_batch(spark, sf_dir, tmp_path):
    """Every session the stateful streaming operator closes must appear
    identically (start/end/count) in the batch window-function answer;
    batch-only extras are exactly the sessions still open at drain."""
    from etl_pipeline_from_mongo_json_to_postgre_spark.streaming import events as se

    stream = watch_table(spark, sf_dir, "events")
    q = (se.sessionize(stream)
         .writeStream.format("memory").queryName("sess_check")
         .outputMode("update").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    assert q.awaitTermination(300)
    streamed = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table("sess_check").collect()
    }
    batch = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in se.stream_sessionize(spark, sf_dir).collect()
    }
    assert streamed, "stream closed no sessions"
    assert streamed <= batch
    # unmatched batch rows = one open (final) session per active user
    open_sessions = batch - streamed
    users_open = {u for (u, *_ ) in open_sessions}
    assert len(open_sessions) == len(users_open)


def test_stream_load_foreachbatch(spark, sf_dir, tmp_path):
    """Incremental load path (streaming/load.py): events stream as raw
    JSON documents -> mapping transform per micro-batch -> batch writer.
    The writer here collects instead of JDBC-appending (no live DB in
    CI); counts and audit statuses must match the batch-path answer."""
    from pyspark.sql import functions as F

    from etl_pipeline_from_mongo_json_to_postgre_spark.plans.mapping_plan import (
        MappingPlan,
    )
    from etl_pipeline_from_mongo_json_to_postgre_spark.sources.parquet import (
        load_table,
    )
    from etl_pipeline_from_mongo_json_to_postgre_spark.streaming.load import (
        stream_load,
    )

    plan = MappingPlan.from_config(
        "events_stream",
        {
            "target_table": "public.events_loaded",
            "object_id_attribute": "event_id",
            "mappings": {
                "event_id": {"column": "event_id", "type": "bigint"},
                "user_id": {"column": "user_id", "type": "bigint"},
                "event_type": {"column": "event_type", "type": "text"},
                "value": {"column": "amount", "type": "double"},
            },
        },
    )
    stream = watch_table(spark, sf_dir, "events").select(
        F.to_json(F.struct("event_id", "user_id", "event_type", "value")).alias(
            "raw_json"
        )
    )
    seen = {"data": 0, "audit": 0, "batches": 0, "bad": 0}

    def writer(data_df, audit_df, batch_id):
        seen["data"] += data_df.count()
        seen["audit"] += audit_df.where(
            F.col("processing_status") == "success"
        ).count()
        seen["bad"] += audit_df.where(
            F.col("processing_status") != "success"
        ).count()
        seen["batches"] += 1

    q = stream_load(stream, plan, writer,
                    checkpoint_dir=str(tmp_path / "ckpt"),
                    ingested_at="2024-06-01 00:00:00")
    assert q.awaitTermination(300)
    n_events = load_table(spark, sf_dir, "events").count()
    assert seen["batches"] >= 1
    assert seen["data"] == n_events
    assert seen["audit"] == n_events  # every doc castable -> success
    assert seen["bad"] == 0


def test_watermark_drops_late_data_in_append_mode(spark, tmp_path):
    """Watermark semantics pinned end-to-end: a second micro-batch
    carrying an event 10 hours older than the advanced watermark must
    NOT resurrect its (finalized) window in append mode, while an
    on-time event in the same batch lands normally. This is the
    late-data contract the 100 TB streaming path relies on for bounded
    state."""
    import os

    from pyspark.sql import functions as F

    watch = str(tmp_path / "watch")
    os.makedirs(watch)

    def write_batch(name, rows):
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string"
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        # one file per batch dir -> one micro-batch each (maxFilesPerTrigger=1)
        part = [f for f in os.listdir(str(tmp_path / name)) if f.endswith(".parquet")][0]
        os.link(os.path.join(str(tmp_path / name), part), os.path.join(watch, name))

    from datetime import datetime

    t = lambda h, m=0: datetime(2024, 3, 1, h, m)
    # Watermark propagation lags: the late-row filter in batch N uses
    # the watermark derived from data through batch N-2 (one batch to
    # observe the max event time, one to commit it). The advancing
    # event therefore needs TWO batches before the late arrival.
    write_batch("b1.parquet", [
        (1, t(1, 10), 7, "click", 1.0, "{}"),
        (2, t(1, 20), 7, "click", 1.0, "{}"),
    ])
    write_batch("b2.parquet", [
        (3, t(13, 0), 7, "click", 1.0, "{}"),   # advances max event time
    ])
    write_batch("b3.parquet", [
        (6, t(13, 10), 7, "click", 1.0, "{}"),  # spacer: watermark commits 11:00
    ])
    write_batch("b4.parquet", [
        (4, t(1, 30), 7, "click", 1.0, "{}"),   # 9.5h behind watermark: dropped
        (5, t(13, 30), 7, "click", 1.0, "{}"),  # on time
    ])

    schema = spark.read.parquet(str(tmp_path / "b1.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(watch)
    )
    q = (
        windowed_counts(stream, window="1 hour", watermark="2 hours")
        .writeStream.format("memory")
        .queryName("late_data_check")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    assert q.awaitTermination(300)
    finalized = {
        (r.window_start.hour, r.cnt) for r in spark.table("late_data_check").collect()
    }
    # the 01:00 window finalized with ONLY the two on-time events —
    # event 4 (late beyond watermark) must not have been counted
    assert (1, 2) in finalized
    assert (1, 3) not in finalized


def test_windowed_distinct_multifile_within_watermark(spark, tmp_path):
    """ADVICE r4: stream_windowed_distinct_users' chained
    dropDuplicatesWithinWatermark -> windowed-count plan must stay EXACT
    on a multi-file landing dir (one micro-batch per file) as long as
    cross-file event-time disorder stays within the 2h dedup delay —
    returning users seen again in a later batch must not be re-counted."""
    import os

    from pyspark.sql import functions as F

    watch = str(tmp_path / "watch")
    os.makedirs(watch)

    def write_batch(name, rows):
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string"
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = [f for f in os.listdir(str(tmp_path / name)) if f.endswith(".parquet")][0]
        os.link(os.path.join(str(tmp_path / name), part), os.path.join(watch, name))

    from datetime import datetime

    t = lambda h, m=0: datetime(2024, 3, 1, h, m)
    write_batch("b1.parquet", [
        (1, t(1, 5), 1, "click", 1.0, "{}"),
        (2, t(1, 10), 2, "click", 1.0, "{}"),
        (3, t(2, 10), 1, "click", 1.0, "{}"),
    ])
    write_batch("b2.parquet", [
        (4, t(1, 30), 1, "click", 1.0, "{}"),   # returning user, 40min disorder
        (5, t(2, 20), 2, "click", 1.0, "{}"),
        (6, t(3, 5), 3, "click", 1.0, "{}"),
    ])
    write_batch("b3.parquet", [
        (7, t(2, 40), 1, "click", 1.0, "{}"),   # returning again, cross 2 files
        (8, t(3, 10), 3, "click", 1.0, "{}"),   # dup within later batch
        (9, t(3, 20), 4, "click", 1.0, "{}"),
    ])

    schema = spark.read.parquet(str(tmp_path / "b1.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(watch)
    )
    deduped = (
        stream.withColumn("hour", F.date_trunc("hour", "ts"))
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["hour", "user_id"])
    )
    agg = deduped.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count("*").alias("distinct_users")
    )
    q = (
        agg.select(F.col("w.start").alias("window_start"), "distinct_users")
        .writeStream.format("memory")
        .queryName("multifile_distinct_check")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    assert q.awaitTermination(300)
    got = {
        r.window_start.hour: r.distinct_users
        for r in spark.table("multifile_distinct_check").collect()
    }
    assert got == {1: 2, 2: 2, 3: 2}


def test_sessionize_native_matches_python_state_twin(spark, sf_dir):
    """The built-in session_window form (r9, VERDICT r8 task 2) must
    produce the identical session list to the applyInPandasWithState
    twin — the two operators share one boundary rule (merge at
    diff == gap, split at diff > gap; probed live, see
    sessionize_native module docstring) — and must restore the
    shuffle-partition conf it scopes."""
    from etl_pipeline_from_mongo_json_to_postgre_spark.streaming import (
        events as se,
        sessionize_native as sn,
    )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    native = {tuple(r) for r in sn.stream_sessionize_native(spark, sf_dir).collect()}
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev, (
        "scoped shuffle-partition override leaked")
    twin = {tuple(r) for r in se.stream_sessionize(spark, sf_dir).collect()}
    assert native == twin
    assert native


def test_sessionize_boundary_exact_gap_adjacency(spark, tmp_path):
    """Regression for the r9 review finding: session_window MERGES two
    events exactly gap apart (split only at diff > gap) — identical to
    the Python-state twin. The shipped fixtures contain no exact-gap
    adjacency, so this synthesizes one: per user, events at 0, +30min
    (== gap, must merge), +60min+1us (> gap from the previous, must
    split). Both operators must return the same 2-session answer."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_pipeline_from_mongo_json_to_postgre_spark.streaming import (
        events as se,
        sessionize_native as sn,
    )

    base = 1_700_000_000_000_000  # us epoch
    gap_us = se.SESSION_GAP_MIN * 60 * 1_000_000
    rows = []
    eid = 0
    for u in range(4):
        u_base = base + u * 10 * gap_us
        for off in (0, gap_us, 2 * gap_us + 1):
            rows.append((eid, u_base + off, u))
            eid += 1
    tbl = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array(["click"] * len(rows)),
        "value": pa.array([1.5] * len(rows), pa.float64()),
        "props": pa.array(["{}"] * len(rows)),
    })
    sf_dir = tmp_path / "synth"
    sf_dir.mkdir()
    pq.write_table(tbl, str(sf_dir / "events.parquet"))

    native = {tuple(r) for r in
              sn.stream_sessionize_native(spark, str(sf_dir)).collect()}
    twin = {tuple(r) for r in
            se.stream_sessionize(spark, str(sf_dir)).collect()}
    assert native == twin
    # exactly 2 sessions per user: [0, +gap] merged, the > gap event alone
    assert len(native) == 8
    by_user = {}
    for (u, start, end, n, vsum) in native:
        by_user.setdefault(u, []).append((start, end, n))
    for u, sess in by_user.items():
        sess.sort()
        assert sess[0][2] == 2, f"exact-gap successor must merge: {sess}"
        assert sess[1][2] == 1, f"> gap successor must split: {sess}"


def test_late_drop_census_planted_rows_are_exactly_the_delta(spark, sf_dir):
    """stream_late_drop_census (r10): the watermark must drop EXACTLY
    the planted late rows — numRowsDroppedByWatermark equals the plant
    count, and adding the planted contributions back to the streamed
    census reproduces the all-rows batch census over the same emitted
    windows (so the drop is the only difference)."""
    from pyspark.sql import functions as F

    from etl_pipeline_from_mongo_json_to_postgre_spark.sources.parquet import (
        load_table,
        normalize_timestamps,
    )
    from etl_pipeline_from_mongo_json_to_postgre_spark.streaming.events import (
        LATE_PLANT_MIN_AGE_H,
        LATE_PLANT_MOD,
        _run_late_drop_stream,
    )

    rows, schema, progress = _run_late_drop_stream(spark, sf_dir)
    streamed = spark.createDataFrame(rows, schema)

    events = normalize_timestamps(load_table(spark, sf_dir, "events"))
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    is_plant = (F.col("event_id") % LATE_PLANT_MOD == 0) & (
        F.col("ts") < F.lit(max_ts) - F.expr(
            f"INTERVAL {LATE_PLANT_MIN_AGE_H} HOURS")
    )
    n_plants = events.where(is_plant).count()
    assert n_plants > 0, "fixture must actually plant late rows"
    dropped = sum(
        op["numRowsDroppedByWatermark"]
        for p in progress for op in p.get("stateOperators", [])
    )
    assert dropped == n_plants

    # all-rows batch census over the emitted window set
    full = (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double").alias("value_sum"),
        )
        .select(F.col("w.start").alias("window_start"),
                "event_type", "cnt", "value_sum")
        .where(F.col("window_start") + F.expr("INTERVAL 3 HOURS")
               <= F.lit(max_ts))
    )
    # delta = planted contributions, window for window
    plant_census = (
        events.where(is_plant)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("p_cnt"))
        .select(F.col("w.start").alias("window_start"), "event_type", "p_cnt")
    )
    merged = (
        full.alias("f")
        .join(streamed.alias("s"), ["window_start", "event_type"], "full")
        .join(plant_census, ["window_start", "event_type"], "left")
        .select(
            "window_start", "event_type",
            F.coalesce("f.cnt", F.lit(0)).alias("full_cnt"),
            F.coalesce("s.cnt", F.lit(0)).alias("stream_cnt"),
            F.coalesce("p_cnt", F.lit(0)).alias("plant_cnt"),
        )
    )
    bad = merged.where(
        F.col("full_cnt") != F.col("stream_cnt") + F.col("plant_cnt")
    )
    assert bad.count() == 0, bad.limit(5).collect()


def test_streaming_entries_leave_no_scratch(spark, sf_dir):
    """Streaming entries keep their scratch under the one harness root:
    the temp dir gains nothing else, and once the queries have stopped
    the root holds only watch dirs (no checkpoint, staged arrivals or
    sink outlives its query)."""
    import os
    import tempfile

    import __spark_entry__ as e
    from etl_pipeline_from_mongo_json_to_postgre_spark.streaming import harness

    registry = e.queries()
    names = ("stream_windowed_counts", "stream_sessionize_native",
             "stream_chunk_length_census", "stream_late_drop_census",
             "stream_load_audit_census", "stream_semantic_dedup")

    def run_all():
        for name in names:
            registry[name](spark, sf_dir).collect()

    # warm pass: the JVM extracts its native codecs (snappy, lz4) and
    # its session artifact dir into the temp dir on first use
    run_all()
    tmp = tempfile.gettempdir()
    before = set(os.listdir(tmp))
    run_all()
    root = harness._root()
    root_name = os.path.basename(root)
    assert set(os.listdir(tmp)) - {root_name} == before - {root_name}
    leftovers = [d for d in os.listdir(root) if not d.startswith("watch_")]
    assert leftovers == [], leftovers
