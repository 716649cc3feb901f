"""Spark Python DataSource for MongoDB collections (reference S3,
ui/mongo_ingest.py:94-105 — the live-scan path).

The staged-JSON flow in ``sources/mongo.py`` mirrors the reference's
actual data path (driver-side find() -> JSON -> engine), but at scale
that hop serializes the whole collection through one process. This
module is the distributed replacement: a PySpark DataSource
(``spark.read.format("mongodb_py")``) whose partitions are read in
EXECUTORS, so a 1000-executor cluster fans the collection scan out
server-side exactly like the official Spark Mongo connector.

Two modes, one row contract:

* ``mode=live`` — pymongo-gated (no Mongo server or pymongo in this
  container, so this path raises a clear InputError here; the
  partition PLANNING — splitting the ObjectId keyspace into N
  contiguous ``_id`` ranges — is a pure function, fully tested).
  Each partition runs ``find({_id: {$gte: lo, $lt: hi}})`` inside its
  executor with its own client: no driver bottleneck, no cursor
  sharing.
* ``mode=export`` — reads the ``{collection: [doc, ...]}`` JSON shape
  produced by ``mongo.stage_to_json`` / the reference's export
  (ui/mongo_ingest.py:94-105), one partition per (file, collection).
  This is the testable-today path and doubles as a bulk-load lane for
  mongodump-style exports.

Rows are ``(collection, object_id, doc_json)`` with every BSON value
normalized through ``mongo.serialize_document`` (ObjectId -> str,
datetime -> isoformat — ui/mongo_ingest.py:76-91), so both modes feed
``mongo_docs_to_df`` / the mapping engine identically.
"""

from __future__ import annotations

import json
import os
from typing import Any, Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from ..errors import InputError
from .mongo import serialize_document

OBJECT_ID_BITS = 96  # 12-byte ObjectId keyspace

SCHEMA = "collection string, object_id string, doc_json string"

# Hard ceiling on driver-side export-fixture staging (harness path of
# s3_mongo_datasource_scan): ~2M rows of short docs stays well under a
# GiB streamed one partition at a time; anything bigger must use live
# mode. Raising, not truncating, keeps the oracle comparison honest.
MAX_EXPORT_FIXTURE_ROWS = 2_000_000


def plan_object_id_ranges(
    min_hex: str, max_hex: str, n_partitions: int
) -> list[tuple[str | None, str | None]]:
    """Split [min_id, max_id] into ``n_partitions`` contiguous
    ``[lo, hi)`` ObjectId-hex ranges (first lo / last hi are None =
    unbounded, so concurrent inserts outside the sampled min/max are
    still scanned).

    Pure arithmetic over the 96-bit keyspace — the same strategy the
    official connector's ``SamplePartitioner`` uses, minus the server
    round-trips. Even ranges assume roughly uniform _id density, which
    holds for ObjectIds (leading 4 bytes are a timestamp); skewed
    custom _id schemes should switch to sample-based splits.
    """
    if n_partitions < 1:
        raise InputError("n_partitions must be >= 1")
    lo_i, hi_i = int(min_hex, 16), int(max_hex, 16)
    if hi_i < lo_i:
        raise InputError(f"max _id {max_hex} < min _id {min_hex}")
    if n_partitions == 1 or hi_i == lo_i:
        return [(None, None)]
    width = 2 * OBJECT_ID_BITS // 8  # 24 hex chars
    step = (hi_i - lo_i) // n_partitions
    bounds = [lo_i + step * k for k in range(1, n_partitions)]
    cuts = [format(b, f"0{width}x") for b in bounds]
    ranges: list[tuple[str | None, str | None]] = []
    prev: str | None = None
    for c in cuts:
        ranges.append((prev, c))
        prev = c
    ranges.append((prev, None))
    return ranges


class _IdRangePartition(InputPartition):
    def __init__(self, lo: str | None, hi: str | None):
        self.lo = lo
        self.hi = hi


class _ExportPartition(InputPartition):
    def __init__(self, path: str, collection: str):
        self.path = path
        self.collection = collection


def _export_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".json")
        )
    return [path]


class MongoDataSourceReader(DataSourceReader):
    """Export mode loads each whole export file twice: ``partitions()``
    runs ``json.load`` on it on the driver to list its collections, and
    each partition's ``read`` loads it again, so the driver needs memory
    for the largest export file; bigger exports belong in live mode."""

    def __init__(self, options: dict):
        self.options = options
        self.mode = options.get("mode", "export")
        if self.mode not in ("export", "live"):
            raise InputError(f"mongodb_py: unknown mode {self.mode!r}")

    # -- planning (driver side) -------------------------------------------

    def partitions(self) -> list[InputPartition]:
        if self.mode == "export":
            path = self.options.get("path")
            if not path:
                raise InputError("mongodb_py export mode requires option 'path'")
            only = self.options.get("collection")
            parts: list[InputPartition] = []
            for f in _export_files(path):
                with open(f, "r", encoding="utf-8") as fh:
                    data = json.load(fh)
                if not isinstance(data, dict):
                    raise InputError(f"export file {f} is not a collection mapping")
                for coll in sorted(data):
                    if only is None or coll == only:
                        parts.append(_ExportPartition(f, coll))
            if not parts:
                raise InputError(f"no collections found under {path}")
            return parts
        # live: split the observed _id keyspace; min/max come from two
        # 1-document indexed queries, the only driver round-trips
        client = self._client()
        db = self.options["database"]
        coll = self.options["collection"]
        n = int(self.options.get("numPartitions", "8"))
        c = client[db][coll]
        first = c.find_one(sort=[("_id", 1)])
        last = c.find_one(sort=[("_id", -1)])
        client.close()
        if first is None or last is None:
            return [_IdRangePartition(None, None)]
        ranges = plan_object_id_ranges(str(first["_id"]), str(last["_id"]), n)
        return [_IdRangePartition(lo, hi) for lo, hi in ranges]

    # -- execution (executor side) ---------------------------------------

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        if isinstance(partition, _ExportPartition):
            with open(partition.path, "r", encoding="utf-8") as fh:
                docs = json.load(fh)[partition.collection]
            for doc in docs:
                yield self._row(partition.collection, doc)
            return
        assert isinstance(partition, _IdRangePartition)
        from bson import ObjectId  # noqa: PLC0415 (executor-side, pymongo env)

        client = self._client()
        try:
            coll_name = self.options["collection"]
            c = client[self.options["database"]][coll_name]
            cond: dict[str, Any] = {}
            if partition.lo is not None:
                cond["$gte"] = ObjectId(partition.lo)
            if partition.hi is not None:
                cond["$lt"] = ObjectId(partition.hi)
            cursor = c.find({"_id": cond} if cond else {})
            for doc in cursor:
                yield self._row(coll_name, doc)
        finally:
            client.close()

    @staticmethod
    def _row(collection: str, doc: dict) -> tuple:
        norm = serialize_document(doc)
        return (
            collection,
            str(norm.get("_id")) if norm.get("_id") is not None else None,
            json.dumps(norm, sort_keys=True, default=str),
        )

    def _client(self):
        try:
            from pymongo import MongoClient  # noqa: PLC0415
        except ImportError as exc:  # pragma: no cover - env-dependent
            raise InputError(
                "mongodb_py live mode needs pymongo (not installed in this "
                "environment); use mode=export over a staged dump, or "
                "install pymongo on driver and executors"
            ) from exc
        host = self.options.get("host", "localhost")
        port = int(self.options.get("port", "27017"))
        return MongoClient(host=host, port=port, serverSelectionTimeoutMS=5000)


class MongoDataSource(DataSource):
    """``spark.read.format("mongodb_py")`` — register with
    ``spark.dataSource.register(MongoDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "mongodb_py"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return MongoDataSourceReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(MongoDataSource)


# ---------------------------------------------------------------------------
# driver-checked query: export-mode scan round-trip over the documents table
# ---------------------------------------------------------------------------

def s3_mongo_datasource_scan(spark, sf_dir):
    """Oracle-checked connector round-trip: the documents table is
    staged into the reference's export JSON shape (test fixture — at
    scale the data is already IN Mongo and mode=live partition-scans
    it), read back through the mongodb_py DataSource in executors, and
    the BSON-normalized doc_json is parsed back to typed columns.
    Proves row fidelity of the whole connector path against DuckDB on
    the original parquet."""
    import tempfile

    from pyspark.sql import functions as F

    from .parquet import load_table

    register(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # Stage the export fixture. Harness-only (at scale the data is
    # already IN Mongo and mode=live partition-scans it), but still a
    # registered query's execution path, so it must not be able to OOM
    # the driver: stream via toLocalIterator (one partition resident at
    # a time, never a whole-table driver collect) under a hard row cap that
    # raises instead of silently truncating — the oracle compares the
    # full table, so truncation would be a wrong answer, and an sf bump
    # past the cap should fail loudly with the live-mode pointer.
    out = os.path.join(tempfile.mkdtemp(prefix="mongo_export_"), "documents.json")
    n = 0
    with open(out, "w", encoding="utf-8") as fh:
        fh.write('{"documents": [')
        for r in docs.toLocalIterator(prefetchPartitions=True):
            n += 1
            if n > MAX_EXPORT_FIXTURE_ROWS:
                raise RuntimeError(
                    f"s3_mongo_datasource_scan: export fixture exceeds "
                    f"{MAX_EXPORT_FIXTURE_ROWS} rows; staging a driver-side "
                    "JSON dump at this scale is wrong — point the "
                    "mongodb_py DataSource at a live server (mode=live) "
                    "instead.")
            rec = {"_id": f"{int(r['doc_id']):024x}",
                   "doc_id": int(r["doc_id"]),
                   "lang": r["lang"], "text": r["text"]}
            fh.write(("," if n > 1 else "") + json.dumps(rec))
        fh.write("]}")
    scanned = (
        spark.read.format("mongodb_py")
        .option("path", out)
        .option("collection", "documents")
        .load()
    )
    parsed = scanned.select(
        F.get_json_object("doc_json", "$.doc_id").cast("bigint").alias("doc_id"),
        F.get_json_object("doc_json", "$.lang").alias("lang"),
        F.length(F.get_json_object("doc_json", "$.text")).alias("n_chars"),
    )
    return parsed


ORACLE_SQL = {
    "s3_mongo_datasource_scan": """
        SELECT doc_id, lang, CAST(length(text) AS INT) AS n_chars
        FROM documents
    """,
}

QUERIES = {
    "s3_mongo_datasource_scan": s3_mongo_datasource_scan,
}
