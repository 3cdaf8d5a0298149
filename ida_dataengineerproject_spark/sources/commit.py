"""The storage commit protocol of the plain-parquet lake tables, in one
place: the Hadoop filesystem handle, the commit log with its one atomic
step, and the written-bucket listing.

The reference gets atomic, idempotent loads from PostgreSQL transactions
(``ON CONFLICT DO NOTHING``, etl_ida.py:534).  Plain parquet has no
transactions, so every lake writer (operators/merge_cow.py
``create_versioned``/``merge_versioned``/``shallow_clone``,
operators/merge_mor.py ``create_mor``/``upsert_mor``/``compact_mor``,
sources/wap.py ``write_audit_publish``) commits through
:func:`versioned_commit`:

1. claim ``_log/v{n}.lock`` — create with overwrite=False, the one atomic
   create plain Hadoop FS offers — before writing any data directory;
2. write the commit's NEW directories (``data/v{n}``, ``dv/v{n}``), never
   an existing one;
3. write the log entry as ``_log/v{n}.json.tmp`` and publish it with ONE
   checked rename to ``_log/v{n}.json``.  That rename is the commit:
   readers resolve every directory from the newest published entry
   (:func:`read_log`), so they see version n-1 whole until the rename and
   version n whole after it;
4. release the claim.

A writer that dies before the rename leaves only what no published entry
references — orphan directories, a truncated ``.tmp`` entry — and its
lock, which blocks version n until removed (see
:class:`ConcurrentWriteError`); the next holder of the claim overwrites
both.  There is no recovery sweep.  Every mutating filesystem call of a
commit is made in this module, through the module-global
:func:`filesystem`.
"""

from __future__ import annotations

import json
import re
from contextlib import contextmanager

from py4j.java_gateway import is_instance_of
from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

BUCKET_COL = "__mbucket"
_LOG_ENTRY = re.compile(r"v(\d+)\.json")


def filesystem(spark: SparkSession, path: str):
    """(FileSystem, Path constructor) for `path` via the JVM Hadoop FS API
    — works for local paths and object-store URIs alike."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    return Path(path).getFileSystem(spark._jsc.hadoopConfiguration()), Path


def log_dir(path: str) -> str:
    return path.rstrip("/") + "/_log"


class ConcurrentWriteError(RuntimeError):
    """Another writer claimed or published this commit version first.
    Retry the whole operation (it will re-read the log and target the
    next version).  A stale ``_log/v{n}.lock`` with no matching
    ``v{n}.json`` and no live writer is a crashed process — delete the
    lock to unblock; a stale lock whose ``v{n}.json`` exists blocks
    nothing, because every writer targets a version above it."""


def log_versions(spark: SparkSession, path: str) -> list[int]:
    """Published versions of the table at `path`, ascending — the
    ``v{n}.json`` entries only, never a claim or an unpublished
    ``v{n}.json.tmp``."""
    fs, Path = filesystem(spark, path)
    if not fs.exists(Path(log_dir(path))):
        raise FileNotFoundError(f"no commits under {path} (no _log dir)")
    names = [st.getPath().getName() for st in fs.listStatus(Path(log_dir(path)))]
    return sorted(int(m[1]) for m in map(_LOG_ENTRY.fullmatch, names) if m)


def read_log(spark: SparkSession, path: str, version: int | None = None) -> dict:
    """The published log entry of `version` (the newest when None)."""
    if version is None:
        versions = log_versions(spark, path)
        if not versions:
            raise FileNotFoundError(f"no commits under {path}")
        version = versions[-1]
    fs, Path = filesystem(spark, path)
    p = Path(f"{log_dir(path)}/v{version}.json")
    if not fs.exists(p):
        raise FileNotFoundError(f"version {version} does not exist")
    stream = fs.open(p)
    try:
        return json.loads(bytes(stream.readAllBytes()).decode())
    finally:
        stream.close()


def _claim_commit(spark: SparkSession, path: str, version: int):
    """Writer-side mutual exclusion: atomically create
    ``_log/v{version}.lock`` BEFORE any data directory is written.  Two
    concurrent writers that both computed ``version = latest + 1`` race
    on this create; the loser fails HERE, before it can clobber the
    winner's ``data/v{version}`` files.  A writer that read the log
    before the winner published (and released) the same version fails
    on the published entry instead.  Any other failure of the create
    (an unwritable path, a table path that is a file) is no claim and
    surfaces as it is.  Returns the (FileSystem, Path constructor) pair."""
    fs, Path = filesystem(spark, path)
    stem = f"{log_dir(path)}/v{version}"
    try:
        fs.create(Path(stem + ".lock"), False).close()
    except Py4JJavaError as exc:
        if not is_instance_of(
            spark.sparkContext._gateway,
            exc.java_exception,
            "org.apache.hadoop.fs.FileAlreadyExistsException",
        ):
            raise
        raise ConcurrentWriteError(
            f"commit v{version} of {path} already claimed ({stem}.lock); "
            f"retry, or remove a stale lock left by a crashed writer"
        ) from exc
    if fs.exists(Path(stem + ".json")):
        fs.delete(Path(stem + ".lock"), False)
        raise ConcurrentWriteError(
            f"commit v{version} of {path} already published; retry"
        )
    return fs, Path


@contextmanager
def versioned_commit(spark: SparkSession, path: str, log: dict):
    """Commit ``log`` as ``_log/v{log['version']}.json``: claim the
    version, run the body (which writes the commit's data directories and
    may still fill in ``log``), publish the entry by renaming it in from
    its temporary name, and release the claim.  When the body raises,
    nothing is published, the version's ``data``/``dv`` directories are
    deleted and the claim is still released, so one failed write never
    blocks the table."""
    n = log["version"]
    fs, Path = _claim_commit(spark, path, n)
    stem = f"{log_dir(path)}/v{n}"
    try:
        try:
            yield log
        except BaseException:
            for kind in ("data", "dv"):
                fs.delete(Path(f"{path.rstrip('/')}/{kind}/v{n}"), True)
            raise
        # overwrite: a crashed earlier holder of this claim may have left
        # a truncated entry under the temporary name
        tmp = Path(stem + ".json.tmp")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(json.dumps(log).encode()))
        finally:
            out.close()
        if not fs.rename(tmp, Path(stem + ".json")):
            raise IOError(f"commit: could not publish {stem}.json")
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
