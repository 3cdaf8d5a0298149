"""Incremental file-ingest ledger — exactly-once batch ingestion over a
growing directory.

The reference re-reads its whole source catalog every run and relies on
fact-hash dedup to stay idempotent (etl/etl_ida.py: full re-extract +
ON CONFLICT-style skip).  That re-read is O(corpus) per run; at 100 TB an
ingest must be O(new data).  The standard pattern (Structured Streaming's
file source and Databricks Auto Loader do the same) is a LEDGER of
processed files: each run lists the source, anti-joins the ledger, reads
ONLY the unseen files, and appends their names to the ledger after the
batch commits.

Crash consistency: the ledger append happens AFTER the output write, so a
crash between the two re-processes the last batch (at-least-once at the
file level) — pair with the hash-dedup sink (operators/dedup) or an
idempotent overwrite-by-partition write for end-to-end exactly-once, the
same contract a foreachBatch sink keeps.

The ledger itself is a parquet table of file identities
(path, size_bytes, mtime_ms).  Listing and existence checks go through
the Hadoop FileSystem handle of sources/commit.py (``filesystem``, the
one the lake commit protocol uses), so the same code runs against local
paths and object stores (s3a://, abfss://, …).  Including the
modification time in the identity means an in-place rewrite is
re-ingested even when the new file happens to have the SAME byte size
(the size-only blind spot); the residual blind spot — same name, same
size, same filesystem mtime granularity — requires a rewrite within one
mtime tick and is the same contract the Structured Streaming file source
accepts.  mtime is
listing-stable (it changes only when the file actually changes), so
reruns over an unchanged source stay deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .commit import filesystem

LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("size_bytes", T.LongType()),
        T.StructField("mtime_ms", T.LongType()),
    ]
)

_IDENTITY_COLS = ["path", "size_bytes", "mtime_ms"]


def read_ledger(spark: SparkSession, ledger_path: str) -> DataFrame:
    """The processed-files ledger (empty DataFrame if none exists yet)."""
    fs, Path = filesystem(spark, ledger_path)
    if fs.exists(Path(ledger_path)):
        return spark.read.schema(LEDGER_SCHEMA).parquet(ledger_path)
    return spark.createDataFrame([], LEDGER_SCHEMA)


def list_source_files(
    spark: SparkSession, src_dir: str, suffix: str = ".parquet"
) -> DataFrame:
    """Current source listing as (path, size_bytes, mtime_ms) via the
    Hadoop FS API (one list call; on a real lake this is the object-store
    LIST — or its manifest/inventory at very large file counts)."""
    fs, Path = filesystem(spark, src_dir)
    rows = []
    for status in fs.listStatus(Path(src_dir)):
        p = status.getPath()
        if status.isFile() and p.getName().endswith(suffix):
            rows.append(
                (p.toString(), status.getLen(), status.getModificationTime())
            )
    rows.sort()
    return spark.createDataFrame(rows, LEDGER_SCHEMA)


def unprocessed_files(listing: DataFrame, ledger: DataFrame) -> DataFrame:
    """Files present in the listing but absent from the ledger: one
    left-anti join on the FULL file identity (path, size_bytes, mtime_ms)
    — a file rewritten in place under the same name counts as new and is
    re-ingested rather than silently skipped, even when the rewrite kept
    the byte size.  Lake sources should still treat files as immutable
    (an in-place append re-ingests the whole file; pair with the
    hash-dedup sink)."""
    return listing.join(
        ledger.select(*_IDENTITY_COLS), _IDENTITY_COLS, "left_anti"
    )


def ingest_new_files(
    spark: SparkSession,
    src_dir: str,
    ledger_path: str,
    process,
    suffix: str = ".parquet",
) -> dict[str, int]:
    """One incremental run: list → anti-join ledger → process ONLY new
    files via ``process(df)`` → append their identities to the ledger.

    ``process`` receives the DataFrame of the new files' rows and performs
    the sink write; it is NOT invoked when no new files exist (the ledger
    is untouched and the run is a no-op).  Returns {files_new,
    files_seen_total}.  The new-file list is a bounded driver-side readout
    (file identities, not data)."""
    ledger = read_ledger(spark, ledger_path)
    listing = list_source_files(spark, src_dir, suffix)
    new = unprocessed_files(listing, ledger)
    new_rows = new.collect()  # bounded: file identities only
    if new_rows:
        process(spark.read.parquet(*[r.path for r in new_rows]))
        # ledger append AFTER the sink commit (see module docstring)
        spark.createDataFrame(new_rows, LEDGER_SCHEMA).write.mode(
            "append"
        ).parquet(ledger_path)
    return {
        "files_new": len(new_rows),
        "files_seen_total": listing.count(),
    }
