"""session.materialize: the engine's one materialization point and its
single storage policy; session.local_cores: the one reader of the core
count."""

from __future__ import annotations

import re

from .conftest import REPO


def test_materialize_runs_at_call_and_stores_disk_only(spark):
    """The job launches at the call, not at the first action, and the
    stored blocks sit on disk only — none in the JVM's memory pool."""
    from ida_dataengineerproject_spark.session import materialize

    jsc = spark.sparkContext._jsc.sc()
    df = spark.range(1000).selectExpr("id", "id * 2 AS v")
    known = {i.id() for i in jsc.getRDDStorageInfo()}
    before = jsc.dagScheduler().nextJobId()
    out = materialize(df)
    assert jsc.dagScheduler().nextJobId() > before
    new = [i for i in jsc.getRDDStorageInfo() if i.id() not in known]
    assert new, "materialize stored no blocks"
    for info in new:
        level = info.storageLevel()
        assert level.useDisk() and not level.useMemory(), level.description()
        assert info.diskSize() > 0 and info.memSize() == 0
    assert out.agg({"v": "sum"}).first()[0] == 999 * 1000


def test_no_checkpoint_or_storage_level_outside_session():
    """Every materialization goes through session.materialize: a raw
    localCheckpoint or a hand-picked StorageLevel anywhere else in the
    package would bring back a per-site policy."""
    pkg = REPO / "ida_dataengineerproject_spark"
    pattern = re.compile(r"\.localCheckpoint\s*\(|StorageLevel")
    hits = [
        f"{path.relative_to(REPO)}:{n}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "session.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not hits, "\n".join(hits)


def test_core_count_has_one_reader_defaulting_to_usable_cores(monkeypatch):
    """Unset, ``SPARK_GRAFT_CPUS`` means the cores this process may run
    on — not a fixed 32 — for the session master and the bucket count
    alike; set, it wins."""
    import os

    from ida_dataengineerproject_spark.session import local_cores
    from ida_dataengineerproject_spark.sources.bucketed import default_buckets

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    usable = len(os.sched_getaffinity(0))
    assert local_cores() == default_buckets() == usable
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cores() == default_buckets() == 3
    pkg = REPO / "ida_dataengineerproject_spark"
    readers = [
        path.relative_to(pkg).as_posix()
        for path in sorted(pkg.rglob("*.py"))
        if "SPARK_GRAFT_CPUS" in path.read_text(encoding="utf-8")
    ]
    assert readers == ["session.py"]
