"""SparkSession construction tuned for this engine.

Local testing runs on local[N]; the same settings (shuffle partitions
sized to cores, UTC session time, AQE's 256m coalesce target) are what
you'd set on a real cluster, where ``spark.sql.shuffle.partitions``
should instead be sized to ~2-3x total executor cores.

``SESSION_CONFS`` is the one table of runtime SQL confs the engine
relies on: ``get_spark`` builds sessions with them, and
``tune_for_oracle`` applies them to a session someone else built.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_TIME_ZONE = "spark.sql.session.timeZone"

SESSION_CONFS = {
    # UTC timestamps: DuckDB timestamps are UTC-naive
    _TIME_ZONE: "UTC",
    # non-ANSI casts: NULL-on-failure semantics, matching the
    # reference's error-capturing transform
    "spark.sql.ansi.enabled": "false",
    # tz-less parquet timestamps read as TIMESTAMP (LTZ, UTC session),
    # not TIMESTAMP_NTZ — watermarks/unix_micros require TIMESTAMP; the
    # loader also casts defensively (sources/parquet.py)
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # AQE coalesce target 256m (r14 config A/B; guide §2.2/§9): a
    # BYTE-size target, so it is scale-adaptive by construction —
    # locally it coalesces the tiny post-shuffle partitions harder
    # (measured -5..-6% across two disjoint 7-8 entry interleaved
    # subsets at sf0.1), on a cluster it lands partitions in the
    # 100 MB-1 GB band §2.2 prescribes instead of the 64 MB default's
    # finer split. Results unaffected (AQE runtime coalescing only).
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256m",
    # Perf-only (r9): accept SUBSET-key co-partitioning for shuffled
    # joins. When a join input is already hash-partitioned on a key
    # that is a pure function of the join key and appears in the
    # equi-join condition (mm_pack's shard layout), the default (true)
    # would re-shuffle both sides onto the full key set and then
    # shuffle AGAIN for any downstream window/aggregate keyed on the
    # subset — two wasted full-data exchanges. Only relaxes plans whose
    # children are ALREADY partitioned on a join-key subset; everything
    # else plans identically (full plan-pin suite + census budgets
    # re-verified after the flip). The subset key must carry enough
    # distinct values for parallelism — the caller's contract, see
    # mm_pack.
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
}


def get_spark(app_name: str = "etl_pipeline_from_mongo_json_to_postgre_spark",
              cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config(map=SESSION_CONFS)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # generated-class cache (a static conf, so it is set here and not
        # in SESSION_CONFS): the default 100 entries thrash, and every
        # warm pass of the iterative graph/k-means/dedup queries
        # recompiled ~200 classes; 2000 keeps them all
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # codegen-heavy plans (multi-format casts) generate a lot of JIT
        # code over a long suite; keep the code cache from filling
        .config("spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Apply ``SESSION_CONFS`` to a session we did not build.

    The registry boundary (``__spark_entry__``) calls this before every
    query builder, so builders never call it themselves. Code that
    calls builder helpers outside the registry needs a ``get_spark``
    session, or this call once after building its own. A hosting
    session may pin some confs; only the UTC time zone is required
    (the others fall back to try_* cast forms and the loader's casts,
    or are perf-only), so only its failure raises.
    """
    for key, value in SESSION_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            if key == _TIME_ZONE:
                raise
    # Perf-only (no correctness impact): size shuffle partitions to the
    # session's real parallelism instead of the 200 default — on a
    # local[N] driver session the default costs ~6x task-launch
    # overhead per shuffle, which compounds brutally in iterative
    # operators (dedup_components).
    try:
        cores = spark.sparkContext.defaultParallelism
        spark.conf.set("spark.sql.shuffle.partitions", str(max(cores, 8)))
    except Exception:
        pass
    return spark
