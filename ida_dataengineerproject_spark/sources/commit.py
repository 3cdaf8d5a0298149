"""The storage commit protocol of the plain-parquet lake tables, in one
place: the Hadoop filesystem handle, the claimed versioned commit, the
written-bucket listing and the rename-aside swap with its crash-recovery
sweep.

The reference gets atomic, idempotent loads from PostgreSQL transactions
(``ON CONFLICT DO NOTHING``, etl_ida.py:534).  Plain parquet has no
transactions, so every lake writer builds on these primitives instead:

* :func:`versioned_commit` — the versioned tables (operators/merge_cow.py
  ``create_versioned``/``merge_versioned``/``shallow_clone``,
  operators/merge_mor.py ``create_mor``/``upsert_mor``/``compact_mor``)
  claim ``_log/v{n}.lock`` before writing any data directory, write
  ``_log/v{n}.json`` when the body succeeds and release the claim either
  way.  A writer that loses the claim raises :class:`ConcurrentWriteError`
  and never touches the winner's lock.
* :func:`rename_aside` — the in-place tables (``merge_cow`` per bucket,
  sources/wap.py for a whole directory) stage under ``<path>__staging``
  and swap in by moving each live directory to ``<path>__prev`` before
  renaming the staged one in.  A crash between the two renames therefore
  never loses data: the next writer's recovery sweep restores it.

Hadoop ``FileSystem.rename``/``delete`` report most failures by RETURNING
FALSE, so every return that guards data is checked.
"""

from __future__ import annotations

import json
from contextlib import contextmanager

from pyspark.sql import SparkSession

BUCKET_COL = "__mbucket"


def filesystem(spark: SparkSession, path: str):
    """(FileSystem, Path constructor) for `path` via the JVM Hadoop FS API
    — works for local paths and object-store URIs alike."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    return Path(path).getFileSystem(spark._jsc.hadoopConfiguration()), Path


def log_dir(path: str) -> str:
    return path.rstrip("/") + "/_log"


class ConcurrentWriteError(RuntimeError):
    """Another writer claimed this commit version first.  Retry the whole
    operation (it will re-read the log and target the next version).  A
    stale ``_log/v{n}.lock`` with no matching ``v{n}.json`` and no live
    writer is a crashed process — delete the lock to unblock."""


def _claim_commit(spark: SparkSession, path: str, version: int):
    """Writer-side mutual exclusion: atomically create
    ``_log/v{version}.lock`` (create with overwrite=False is the one
    atomic primitive plain Hadoop FS gives us) BEFORE any data directory
    is written.  Two concurrent writers that both computed
    ``version = latest + 1`` race on this create; the loser fails HERE,
    before it can clobber the winner's ``data/v{version}`` files.
    Returns the (FileSystem, Path constructor) pair."""
    fs, Path = filesystem(spark, path)
    lock = Path(f"{log_dir(path)}/v{version}.lock")
    try:
        fs.create(lock, False).close()
    except Exception as exc:  # JVM FileAlreadyExists surfaces via py4j
        raise ConcurrentWriteError(
            f"commit v{version} of {path} already claimed ({lock}); "
            f"retry, or remove a stale lock left by a crashed writer"
        ) from exc
    return fs, Path


@contextmanager
def versioned_commit(spark: SparkSession, path: str, log: dict):
    """Commit ``log`` as ``_log/v{log['version']}.json``: claim the
    version, run the body (which writes the commit's data directories and
    may still fill in ``log``), write the log entry, and release the
    claim — also when the body raises, so one failed write never blocks
    the table."""
    fs, Path = _claim_commit(spark, path, log["version"])
    stem = f"{log_dir(path)}/v{log['version']}"
    try:
        yield log
        out = fs.create(Path(stem + ".json"), False)
        try:
            out.write(bytearray(json.dumps(log).encode()))
        finally:
            out.close()
    finally:
        fs.delete(Path(stem + ".lock"), False)


def written_buckets(spark: SparkSession, commit_dir: str) -> set[int]:
    """Bucket ids materialized under ``commit_dir`` (its ``__mbucket=b``
    children), from one filesystem listing — no Spark job, and an empty
    write (no rows, or every row deleted) yields an empty set where
    reading the directory back through parquet would fail for want of a
    schema."""
    fs, Path = filesystem(spark, commit_dir)
    if not fs.exists(Path(commit_dir)):
        return set()
    prefix = BUCKET_COL + "="
    names = [
        st.getPath().getName()
        for st in fs.listStatus(Path(commit_dir))
        if st.isDirectory()
    ]
    return {int(n[len(prefix):]) for n in names if n.startswith(prefix)}


def _recover(spark: SparkSession, fs, Path, root: str, prev_root: str) -> None:
    """Self-heal a crashed swap before anything reads or writes ``root``.
    A ``__prev`` whose live twin is MISSING crashed between the two
    renames — restore it (the swap never fully committed, so the previous
    state is the correct rollback); a ``__prev`` whose twin EXISTS was
    superseded by a completed rename — drop it.  Twins are the whole
    directory when ``root`` itself is missing, else its buckets."""
    prev = Path(prev_root)
    if not fs.exists(prev):
        return
    try:
        if not fs.exists(Path(root)):
            if not fs.rename(prev, Path(root)):
                raise IOError(f"commit recovery: could not restore {prev}")
            return
        for b in written_buckets(spark, prev_root):
            live = Path(f"{root}/{BUCKET_COL}={b}")
            if not fs.exists(live) and not fs.rename(
                Path(f"{prev_root}/{BUCKET_COL}={b}"), live
            ):
                raise IOError(f"commit recovery: could not restore {live}")
        if not fs.delete(prev, True):
            raise IOError(f"commit recovery: could not clear {prev}")
    finally:
        spark.catalog.refreshByPath(root)


@contextmanager
def rename_aside(
    spark: SparkSession, path: str, buckets: list[int] | None = None
):
    """In-place commit of ``<path>__staging`` into ``path``: recover a
    crashed earlier swap, yield the staging path for the body to write,
    then swap each unit in — the given ``__mbucket`` directories, or the
    whole directory when ``buckets`` is None.  A unit whose staged
    directory is absent (every row of that bucket deleted) just loses its
    live directory.

    Each live unit is MOVED to ``<path>__prev`` (never deleted) before its
    staged twin is renamed in, and moved back if that rename fails, so
    readers never see a lost unit; the unprotected window is the instant
    between the two renames, which the next writer's recovery sweep
    closes.  ``__prev`` lives OUTSIDE ``path`` so a reader listing it
    mid-commit never sees a malformed partition directory.  If the body
    raises, staging is deleted and no live directory moves."""
    fs, Path = filesystem(spark, path)
    root = path.rstrip("/")
    staging, prev_root = root + "__staging", root + "__prev"
    _recover(spark, fs, Path, root, prev_root)
    try:
        yield staging
    except BaseException:
        fs.delete(Path(staging), True)
        raise
    units = [""]
    if buckets is not None:
        units = [f"/{BUCKET_COL}={b}" for b in buckets]
        fs.mkdirs(Path(prev_root))
    try:
        for u in units:
            live, staged = Path(root + u), Path(staging + u)
            prev = Path(prev_root + u)
            had_live = fs.exists(live)
            if had_live and not fs.rename(live, prev):
                raise IOError(f"commit: could not move {live} aside")
            if fs.exists(staged) and not fs.rename(staged, live):
                if had_live and not fs.rename(prev, live):
                    raise IOError(
                        f"commit: rename {staged} -> {live} failed AND "
                        f"rollback failed; previous copy at {prev}, staged "
                        f"data under {staging}"
                    )
                raise IOError(
                    f"commit: rename {staged} -> {live} failed; previous "
                    f"copy restored, staged data left under {staging}"
                )
        if fs.exists(Path(prev_root)) and not fs.delete(Path(prev_root), True):
            raise IOError(f"commit: swapped in but could not drop {prev_root}")
        fs.delete(Path(staging), True)
    finally:
        # cached file listings of the live path are stale after ANY
        # rename touching it — including the partial-failure paths
        spark.catalog.refreshByPath(path)
