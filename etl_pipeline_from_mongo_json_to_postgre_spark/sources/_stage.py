"""Staging of the documents table as file-format fixtures
(csv_source / xml_source / orc_source / binary_source).

Staging is a HARNESS convenience — real CSV/XML/ORC/media drops arrive
from outside — so every format is staged by ONE routine,
``stage_documents``, and a format module supplies only its write (and
binary its text filter and tighter row cap). The routine keeps three
disciplines for all of them:

- fingerprint-keyed cache dirs: the key includes a content fingerprint
  of the parquet source (names, sizes, mtimes), so a regenerated
  sf_dir invalidates the stage instead of serving stale data
  (ADVICE r4);
- bounded staging: a mis-pointed sf_dir fails loudly at the row cap,
  it never silently stages an unbounded table;
- executor-side writes only (df.write / mapInPandas), no driver
  collect.

A stage is served from cache only once its ``_STAGED`` marker exists,
which is written after the write returns, so an interrupted stage is
staged again. The text formats are read back under one schema,
``DOCUMENTS_SCHEMA``, whose ``CORRUPT_COL`` keeps malformed records.
"""

from __future__ import annotations

import hashlib
import os
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession

from .parquet import load_table

CORRUPT_COL = "_corrupt_record"

STAGED_COLUMNS = ("doc_id", "text", "lang", "source", "n_chars")

DOCUMENTS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long, "
    f"{CORRUPT_COL} string"
)

# Hard cap on staged rows; a cap failure is a loud error, not an OOM.
MAX_STAGE_ROWS = 1_000_000

MARKER = "_STAGED"

STAGE_ROOT = "/tmp/spark_graft_{fmt}_stage"


def stage_prefix(sf_dir: str) -> str:
    """The start of the name of every stage of ``sf_dir`` (or of a directory
    under it) in a ``STAGE_ROOT``; the source fingerprint follows it."""
    return sf_dir.strip("/").replace("/", "_") + "_"


def source_fingerprint(sf_dir: str, table: str = "documents") -> str:
    """Cheap content fingerprint of the parquet source files (names,
    sizes, mtimes)."""
    root = os.path.join(sf_dir, f"{table}.parquet")
    paths = [root]
    if os.path.isdir(root):
        # Recurse to the actual DATA files (nested partition layouts
        # like lang=en/part-*.parquet must influence the fingerprint —
        # r10 review: a flat non-recursive listing fingerprinted them
        # as nothing at all), excluding marker/crc noise (_SUCCESS,
        # .crc) whose re-commit churn is not a content change
        # (ADVICE r9).
        paths = sorted(
            os.path.join(dirpath, f)
            for dirpath, _dirs, files in os.walk(root)
            for f in files
            if not (f.startswith("_") or f.endswith(".crc"))
        )
    h = hashlib.sha256()
    for p in paths:
        try:
            st = os.stat(p)
        except FileNotFoundError:
            # Entry vanished between listdir and stat (concurrent
            # rewrite): skip it — the surviving files still change the
            # fingerprint vs the old listing.
            continue
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def stage_documents(
    spark: SparkSession,
    sf_dir: str,
    fmt: str,
    write: Callable[[DataFrame, str], None],
    where: Column | None = None,
    max_rows: int = MAX_STAGE_ROWS,
) -> str:
    """Stage ``sf_dir``'s documents table as ``fmt`` and return the
    stage directory, ``/tmp/spark_graft_<fmt>_stage/<sf_dir>_<fingerprint>``.
    ``write(df, out)`` writes the ``STAGED_COLUMNS`` of the rows
    ``where`` keeps (all when None) to ``out``; more than ``max_rows``
    such rows raise before anything is written."""
    out = os.path.join(STAGE_ROOT.format(fmt=fmt),
                       stage_prefix(sf_dir) + source_fingerprint(sf_dir))
    marker = os.path.join(out, MARKER)
    if os.path.exists(marker):
        return out
    df = load_table(spark, sf_dir, "documents").select(*STAGED_COLUMNS)
    if where is not None:
        df = df.where(where)
    n = df.limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(
            f"staging documents as {fmt} ({sf_dir}): refusing to stage "
            f">{max_rows} rows (got at least {n}); staging is a bounded "
            "harness path, point real scans at their drop location instead"
        )
    write(df, out)
    with open(marker, "w"):
        pass
    return out
