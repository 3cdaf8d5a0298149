"""The lake commit protocol (sources/commit.py) as its writers see it: a
failed versioned commit releases its claim on both table kinds,
create_versioned finds its buckets by listing, not by re-reading, only
published log entries count as versions, and a writer that dies at any
mutating filesystem call of a commit leaves the table readable at
exactly the version before or after it."""

from __future__ import annotations

import os
import re
import shutil
from functools import partial

import pyspark.sql.functions as F
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException

from ida_dataengineerproject_spark.operators.merge_cow import (
    create_versioned,
    merge_versioned,
    read_version,
    vacuum_versioned,
)
from ida_dataengineerproject_spark.operators.merge_mor import (
    compact_mor,
    create_mor,
    read_mor,
    upsert_mor,
)
from ida_dataengineerproject_spark.session import run_concurrently
from ida_dataengineerproject_spark.sources import commit
from ida_dataengineerproject_spark.sources.commit import (
    ConcurrentWriteError,
    _claim_commit,
    read_log,
)
from ida_dataengineerproject_spark.sources.wap import (
    AuditError,
    duplicate_keys,
    write_audit_publish,
)

from .conftest import REPO


def _rows(df) -> set[tuple]:
    return {(r["k"], r["v"]) for r in df.collect()}


def _base(spark):
    """8 keys in 4 buckets, v = k."""
    return spark.createDataFrame(
        [(k, float(k)) for k in range(8)], "k long, v double"
    )


def _jobs(spark, fn) -> int:
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = dag.nextJobId()
    fn()
    return dag.nextJobId() - first


def test_failed_commit_releases_its_claim_on_both_table_kinds(spark, tmp_path):
    """A merge whose changeset lacks the key column fails inside its
    commit; the claim on v1 must be released so the next merge commits
    v1 instead of failing with ConcurrentWriteError forever."""
    base = _base(spark)
    bad = spark.createDataFrame([(1, -1.0)], "not_k long, v double")
    good = spark.createDataFrame([(1, -1.0)], "k long, v double")
    kinds = [
        (create_versioned, merge_versioned, lambda p: read_version(spark, p)),
        (create_mor, upsert_mor, lambda p: read_mor(spark, p)),
    ]
    for create, merge, read in kinds:
        path = str(tmp_path / create.__name__)
        create(spark, path, base, "k", 4)
        with pytest.raises(AnalysisException):
            merge(spark, path, bad)
        assert not os.path.exists(os.path.join(path, "_log", "v1.lock"))
        assert merge(spark, path, good) == 1
        assert dict(_rows(read(path)))[1] == -1.0


def test_create_versioned_on_an_empty_frame_commits_v0(spark, tmp_path):
    path = str(tmp_path / "empty")
    empty = spark.createDataFrame([], "k long, v double")
    assert create_versioned(spark, path, empty, "k", 4) == 0
    assert read_log(spark, path)["buckets"] == {}
    assert not os.path.exists(os.path.join(path, "_log", "v0.lock"))

    ch = spark.createDataFrame([(1, 2.0), (6, 3.0)], "k long, v double")
    assert merge_versioned(spark, path, ch) == 1
    assert _rows(read_version(spark, path, 1)) == {(1, 2.0), (6, 3.0)}


def test_create_versioned_launches_no_more_jobs_than_create_mor(spark, tmp_path):
    """Both creates write once and list the written buckets; reading the
    written table back for its buckets cost create_versioned 3 extra
    jobs."""
    df = spark.range(8).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    cow = _jobs(
        spark, lambda: create_versioned(spark, str(tmp_path / "c"), df, "k", 4)
    )
    mor = _jobs(
        spark, lambda: create_mor(spark, str(tmp_path / "m"), df, "k", 4)
    )
    assert cow <= mor


def test_a_writer_that_read_an_older_log_cannot_claim_a_published_version(
    spark, tmp_path
):
    """v1 is published and its claim released; a writer that read the
    log before that targets v1 too.  Its claim must fail on the
    published entry, before it can overwrite data/v1."""
    path = str(tmp_path / "t")
    base = _base(spark)
    create_versioned(spark, path, base, "k", 4)
    ch = spark.createDataFrame([(1, -1.0)], "k long, v double")
    merge_versioned(spark, path, ch)
    with pytest.raises(ConcurrentWriteError, match="already published"):
        _claim_commit(spark, path, 1)
    assert not os.path.exists(os.path.join(path, "_log", "v1.lock"))
    assert dict(_rows(read_version(spark, path)))[1] == -1.0


def test_an_unpublished_log_entry_is_not_a_version(spark, tmp_path):
    """A writer that died while writing its entry leaves a truncated file
    under the temporary name: readers, writers and vacuum must all see
    the published versions only, and the next commit of that version
    replaces it."""
    path = str(tmp_path / "t")
    base = _base(spark)
    create_versioned(spark, path, base, "k", 4)
    ch = spark.createDataFrame([(1, -1.0)], "k long, v double")
    merge_versioned(spark, path, ch)
    tmp = os.path.join(path, "_log", "v2.json.tmp")
    with open(tmp, "w") as f:
        f.write('{"version": 2, "bu')

    assert dict(_rows(read_version(spark, path)))[1] == -1.0
    stats = vacuum_versioned(spark, path, retain_from=1)
    assert stats["latest"] == 1 and stats["deleted_logs"] == 1
    ch = spark.createDataFrame([(2, -2.0)], "k long, v double")
    assert merge_versioned(spark, path, ch) == 2
    assert not os.path.exists(tmp)
    got = dict(_rows(read_version(spark, path)))
    assert got[1] == -1.0 and got[2] == -2.0 and len(got) == 8


def test_a_failed_claim_create_is_not_a_concurrent_write(spark, tmp_path):
    """Only an existing lock means the version is claimed: when the lock
    cannot be created at all (here the table path is a plain file), the
    filesystem's own error surfaces, naming no lock to remove."""
    path = tmp_path / "t"
    path.write_text("not a table")
    with pytest.raises(Py4JJavaError) as info:
        create_versioned(spark, str(path), _base(spark), "k", 4)
    assert "v0.lock" not in str(info.value)


def test_vacuum_keeps_the_directory_of_an_unpublished_claim(spark, tmp_path):
    """A writer holds the claim on v2 and has written data/v2 but not
    published it yet: vacuum must leave both alone."""
    path = str(tmp_path / "t")
    create_versioned(spark, path, _base(spark), "k", 4)
    ch = spark.createDataFrame([(1, -1.0)], "k long, v double")
    merge_versioned(spark, path, ch)
    lock = os.path.join(path, "_log", "v2.lock")
    open(lock, "w").close()
    staged = os.path.join(path, "data", "v2", "__mbucket=0")
    os.makedirs(staged)
    open(os.path.join(staged, "part-0.parquet"), "w").close()

    stats = vacuum_versioned(spark, path, retain_from=1)
    assert stats["latest"] == 1
    assert os.path.isdir(staged) and os.path.exists(lock)


def test_the_log_publish_is_the_only_rename():
    """The commit point is the one rename that publishes a log entry: a
    rename anywhere else in the package, or a __prev/__staging path,
    would bring back a multi-step swap no reader can see whole."""
    publish = 'if not fs.rename(tmp, Path(stem + ".json")):'
    pkg = REPO / "ida_dataengineerproject_spark"
    pattern = re.compile(r"\.rename\(|__prev|__staging")
    hits = [
        f"{path.relative_to(REPO)}:{n}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert len(hits) == 1, "\n".join(hits)
    assert hits[0].startswith("ida_dataengineerproject_spark/sources/commit.py:")
    assert hits[0].endswith(publish)


# --------------------------------------------------------------- crash matrix


class _Crash(BaseException):
    """The process died: raised by every mutating call from the k-th on.
    A BaseException, so no ``except Exception`` of the code under test
    mistakes it for an error it could handle."""


class _Faults:
    """Numbers the mutating filesystem calls of a commit; every call from
    number ``crash_at`` on raises (None: none does)."""

    def __init__(self, crash_at: int | None = None):
        self.calls, self.crash_at = 0, crash_at

    def hit(self, name: str) -> None:
        k, self.calls = self.calls, self.calls + 1
        if self.crash_at is not None and k >= self.crash_at:
            raise _Crash(f"{name} (mutating call {k})")


class _Stream:
    def __init__(self, out, faults: _Faults):
        self._out, self._faults = out, faults

    def write(self, data):
        self._faults.hit("write")
        return self._out.write(data)

    def close(self):
        self._faults.hit("close")
        return self._out.close()


class _FileSystem:
    """A Hadoop FileSystem whose mutating calls go through ``_Faults``."""

    def __init__(self, fs, faults: _Faults):
        self._fs, self._faults = fs, faults

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def create(self, *args):
        self._faults.hit("create")
        return _Stream(self._fs.create(*args), self._faults)

    def rename(self, *args):
        self._faults.hit("rename")
        return self._fs.rename(*args)

    def delete(self, *args):
        self._faults.hit("delete")
        return self._fs.delete(*args)

    def mkdirs(self, *args):
        self._faults.hit("mkdirs")
        return self._fs.mkdirs(*args)


def _install_faults(monkeypatch) -> dict[str, _Faults]:
    """Route ``commit.filesystem`` through ``_Faults`` for every path
    under a root registered in the returned dict; other paths get the
    real filesystem.  One registry, so crash cases can run side by side."""
    real = commit.filesystem
    active: dict[str, _Faults] = {}

    def faulty(spark, path):
        fs, Path = real(spark, path)
        for root, faults in list(active.items()):
            if path == root or path.startswith(root + "/"):
                return _FileSystem(fs, faults), Path
        return fs, Path

    monkeypatch.setattr(commit, "filesystem", faulty)
    return active


_SCHEMA = "k long, v double, dead boolean"
# 8 keys in 4 buckets; the changeset updates bucket 1, inserts into it
# and empties bucket 3 (keys 3 and 7)
_CHANGES = [(1, -1.0, False), (3, 0.0, True), (7, 0.0, True), (9, 9.0, False)]


def _matrix_cases(spark):
    """name -> (build the table at a path, the commit under test, a later
    writer that always commits, read the reconciled rows)."""
    base = _base(spark)
    ch = spark.createDataFrame(_CHANGES, _SCHEMA)
    audits = [("dup_k", duplicate_keys("k"))]

    def rows_versioned(p):
        return sorted((r["k"], r["v"]) for r in read_version(spark, p).collect())

    def rows_mor(p):
        return sorted((r["k"], r["v"]) for r in read_mor(spark, p).collect())

    def mor_with_vectors(p):
        create_mor(spark, p, base, "k", 4)
        upsert(p)

    def first_publish(p):
        write_audit_publish(spark, base, p, audits)

    def publish(p):
        write_audit_publish(spark, base.withColumn("v", F.col("v") * 2), p, audits)

    def refused_publish(p):
        with pytest.raises(AuditError):
            write_audit_publish(spark, base.unionByName(base.limit(1)), p, audits)

    create = partial(create_versioned, spark, df=base, key="k", n_buckets=4)
    merge = partial(merge_versioned, spark, changes=ch, tombstone_col="dead")
    upsert = partial(upsert_mor, spark, changes=ch, tombstone_col="dead")
    upsert_5 = partial(
        upsert_mor,
        spark,
        changes=spark.createDataFrame([(5, -5.0, False)], _SCHEMA),
        tombstone_col="dead",
    )
    return {
        "merge_versioned": (create, merge, merge, rows_versioned),
        "upsert_mor": (
            partial(create_mor, spark, df=base, key="k", n_buckets=4),
            upsert, upsert, rows_mor,
        ),
        "compact_mor": (
            mor_with_vectors, partial(compact_mor, spark), upsert_5, rows_mor
        ),
        "write_audit_publish": (first_publish, publish, publish, rows_versioned),
        "refused_publish": (
            first_publish, refused_publish, publish, rows_versioned
        ),
    }


@pytest.mark.parametrize(
    "case",
    ["merge_versioned", "upsert_mor", "compact_mor", "write_audit_publish",
     "refused_publish"],
)
def test_a_crash_at_any_commit_call_leaves_one_whole_version(
    spark, tmp_path, monkeypatch, case
):
    """Sweep the crash point k over every mutating filesystem call of the
    commit, plus one past the last (the commit succeeds).  After each
    crash, with the real filesystem back: a reader sees exactly the
    version before or the version after the commit, whole; a later
    writer commits on top of what the reader saw — after the stale lock
    its ConcurrentWriteError names is removed, if it raises one."""
    build, op, later, rows = _matrix_cases(spark)[case]
    active = _install_faults(monkeypatch)

    def state(p):
        return read_log(spark, p)["version"], rows(p)

    template = str(tmp_path / "template")
    build(template)
    before = state(template)

    def crash(k: int | None) -> tuple[str, _Faults, bool]:
        """Copy the template, run the commit on the copy with its crash
        point at k, and hand the copy back to the real filesystem."""
        p = str(tmp_path / f"k{k}")
        shutil.copytree(template, p)
        active[p] = faults = _Faults(crash_at=k)
        try:
            op(p)
            return p, faults, False
        except _Crash:
            return p, faults, True
        finally:
            del active[p]

    p, counter, _ = crash(None)
    n_calls = counter.calls
    assert n_calls >= 4  # claim create + close, ..., release
    after = state(p)
    later(p)
    final_rows = rows(p)

    def case_k(k: int) -> None:
        p, _, crashed = crash(k)
        assert crashed == (k < n_calls), k
        seen = state(p)
        assert seen in (before, after), (k, seen)
        try:
            later(p)
        except ConcurrentWriteError as exc:
            lock = re.search(r"\((\S+\.lock)\)", str(exc))[1]
            assert lock.endswith(f"v{seen[0] + 1}.lock"), (k, str(exc))
            os.remove(lock)
            later(p)
        assert state(p) == (seen[0] + 1, final_rows), k

    # ~40 commits of 8 rows: job round-trips, not executor slots, bound
    # the wall, so the crash points run three at a time
    run_concurrently(spark, [partial(case_k, k) for k in range(n_calls + 1)])
