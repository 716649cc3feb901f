"""The streaming plumbing every streaming entry shares: a watched
source over one testdata table, a bounded drain into the memory sink,
and a staged-arrival file stream.

All streaming scratch (watch dirs, checkpoints, staged arrivals and
their sinks) lives under ONE per-process root, created on first use
and removed at interpreter exit. A drain's checkpoint goes away when
its query stops, a staged stream's files when its ``with`` block
ends; watch dirs hold one symlink each and live until exit.

In production the watch dir is the landing directory files arrive
into, the memory sink becomes a ``foreachBatch`` JDBC writer
(streaming/load.py), and the checkpoint is kept: it is what makes a
retried micro-batch replay the same ``batch_id``.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from contextlib import contextmanager
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..sources.parquet import read_normalized


@lru_cache(maxsize=1)
def _root() -> str:
    root = tempfile.mkdtemp(prefix="spark_graft_scratch_")
    atexit.register(shutil.rmtree, root, True)
    return root


def _scratch_dir(prefix: str) -> str:
    return tempfile.mkdtemp(prefix=prefix, dir=_root())


def watch_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File stream over one testdata table, one file per trigger, with
    the same timestamp conversion as ``load_table``."""

    def read(src: str) -> DataFrame:
        # The file-stream source watches a *directory*; a testdata
        # table is a single file, so it is exposed through a symlink dir.
        watch = _scratch_dir("watch_")
        os.symlink(src, os.path.join(watch, os.path.basename(src)))
        return (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(watch)
        )

    return read_normalized(
        spark, os.path.join(sf_dir, f"{table}.parquet"), read)


def drain_to_memory(df: DataFrame, name: str,
                    output_mode: str) -> StreamingQuery:
    """Run ``df`` with an availableNow trigger into the memory sink
    ``name`` and return the stopped query. Read the rows with
    ``spark.table(name)``; ``recentProgress`` outlives the query. The
    checkpoint is removed once the query ends: the memory sink holds
    its rows in driver memory."""
    ckpt = _scratch_dir("ckpt_")
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return q


@contextmanager
def staged_stream(spark: SparkSession, frame: DataFrame, schema: StructType | str):
    """Write ``frame`` as 4 arrival files and yield ``(stream, scratch)``:
    the file stream over them (one micro-batch per file) and a dir for
    the caller's sink and checkpoint. Both are removed on exit, so a
    result must be collected inside the block."""
    scratch = _scratch_dir("staged_")
    try:
        stage = os.path.join(scratch, "arrivals")
        frame.repartition(4).write.parquet(stage)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        yield stream, scratch
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
