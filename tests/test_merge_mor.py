"""Merge-on-read storage contracts (operators/merge_mor.py): the parts
the xs16 oracle cannot see — base-file byte-stability across commits,
O(changeset) write shape, tombstone-then-reinsert semantics, and
compaction clearing the vectors without changing the reconciled state.
"""

from __future__ import annotations

import os

import pytest

from ida_dataengineerproject_spark.operators.merge_mor import (
    compact_mor,
    create_mor,
    read_mor,
    upsert_mor,
)
from ida_dataengineerproject_spark.sources.commit import read_log

N_BUCKETS = 4


def _file_identity(root: str) -> dict[str, tuple[int, float]]:
    """(size, mtime) of every data file under root, keyed by relpath."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime)
    return out


@pytest.fixture()
def mor_table(spark, tmp_path):
    path = str(tmp_path / "mor")
    base = spark.createDataFrame(
        [(k, f"name-{k}", k * 10) for k in range(1, 21)],
        "k long, name string, val long",
    )
    create_mor(spark, path, base, "k", N_BUCKETS)
    return path


def _state(spark, path) -> dict[int, tuple[str, int]]:
    return {
        r["k"]: (r["name"], r["val"])
        for r in read_mor(spark, path).collect()
    }


def test_upsert_delete_reconcile(spark, mor_table):
    ch = spark.createDataFrame(
        [
            (3, "upd-3", 333, False),    # update
            (7, None, None, True),       # delete
            (100, "new-100", 1, False),  # insert
        ],
        "k long, name string, val long, dead boolean",
    )
    upsert_mor(spark, mor_table, ch, tombstone_col="dead")
    st = _state(spark, mor_table)
    assert st[3] == ("upd-3", 333)
    assert 7 not in st
    assert st[100] == ("new-100", 1)
    assert len(st) == 20  # 20 base - 1 delete + 1 insert
    assert st[5] == ("name-5", 50)  # untouched row intact


def test_base_files_byte_stable_across_commits(spark, mor_table):
    before = _file_identity(os.path.join(mor_table, "data", "v0"))
    ch = spark.createDataFrame(
        [(1, "x", 0, False), (2, None, None, True)],
        "k long, name string, val long, dead boolean",
    )
    upsert_mor(spark, mor_table, ch, tombstone_col="dead")
    after = _file_identity(os.path.join(mor_table, "data", "v0"))
    assert before == after  # MOR never rewrites the base


def test_commit_writes_only_impacted_buckets(spark, mor_table):
    # keys 1 and 5 share bucket 1 (mod 4); the commit must write dv/data
    # leaf dirs for bucket 1 only
    ch = spark.createDataFrame(
        [(1, "a", 1, False), (5, "b", 5, False)],
        "k long, name string, val long, dead boolean",
    )
    c = upsert_mor(spark, mor_table, ch, tombstone_col="dead")
    for kind in ("data", "dv"):
        leaf = [
            d
            for d in os.listdir(os.path.join(mor_table, kind, f"v{c}"))
            if d.startswith("__mbucket=")
        ]
        assert leaf == ["__mbucket=1"]


def test_delete_then_reinsert_lives(spark, mor_table):
    dele = spark.createDataFrame(
        [(4, None, None, True)], "k long, name string, val long, dead boolean"
    )
    upsert_mor(spark, mor_table, dele, tombstone_col="dead")
    assert 4 not in _state(spark, mor_table)
    re_ins = spark.createDataFrame(
        [(4, "back", 44, False)], "k long, name string, val long, dead boolean"
    )
    upsert_mor(spark, mor_table, re_ins, tombstone_col="dead")
    assert _state(spark, mor_table)[4] == ("back", 44)


def test_compaction_preserves_state_and_clears_vectors(spark, mor_table):
    ch = spark.createDataFrame(
        [(3, "u", 3, False), (7, None, None, True), (11, None, None, True)],
        "k long, name string, val long, dead boolean",
    )
    upsert_mor(spark, mor_table, ch, tombstone_col="dead")
    before = _state(spark, mor_table)
    res = compact_mor(spark, mor_table)
    assert res["compacted"]  # 3, 7, 11 all hit bucket 3 (mod 4)
    assert _state(spark, mor_table) == before
    log = read_log(spark, mor_table)
    for b in res["compacted"]:
        entry = log["buckets"][str(b)]
        assert entry["dv"] == [] and entry["data"] == [res["version"]]
    # idempotent: nothing left to compact
    assert compact_mor(spark, mor_table)["compacted"] == []


def test_fully_deleted_bucket_leaves_log(spark, tmp_path):
    path = str(tmp_path / "mor2")
    base = spark.createDataFrame(
        [(0, 0), (4, 4), (1, 1)], "k long, val long"
    )  # keys 0,4 -> bucket 0; key 1 -> bucket 1
    create_mor(spark, path, base, "k", N_BUCKETS)
    dele = spark.createDataFrame(
        [(0, None, True), (4, None, True)], "k long, val long, dead boolean"
    )
    upsert_mor(spark, path, dele, tombstone_col="dead")
    compact_mor(spark, path)
    log = read_log(spark, path)
    assert "0" not in log["buckets"] and "1" in log["buckets"]
    assert {r["k"] for r in read_mor(spark, path).collect()} == {1}


def test_compact_dv_only_bucket_drops_entry_instead_of_crashing(
    spark, tmp_path
):
    """ADVICE r5 (medium): deletes for keys whose bucket holds no data
    files leave a {data: [], dv: [c]} log entry; compaction must drop it
    (the tombstones reference nothing), not crash in read_mor."""
    path = str(tmp_path / "mor_dvonly")
    # keys 1..4 with N_BUCKETS=4 put exactly one key per bucket; base
    # holds ONLY buckets 1 and 2 (keys 1, 2)
    base = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, name string"
    )
    create_mor(spark, path, base, "k", N_BUCKETS)
    # delete keys 3 and 0-mod keys that never existed: dv-only buckets
    ch = spark.createDataFrame([(3, None, True)], "k long, name string, t boolean")
    upsert_mor(spark, path, ch, tombstone_col="t")
    log = read_log(spark, path)
    assert log["buckets"]["3"] == {"data": [], "dv": [1]}

    res = compact_mor(spark, path, min_dv_rows=1)
    assert res["dropped_dv_only"] == [3]
    log2 = read_log(spark, path)
    assert "3" not in log2["buckets"]
    # state unchanged
    assert {
        (r["k"], r["name"]) for r in read_mor(spark, path).collect()
    } == {(1, "a"), (2, "b")}


def test_read_mor_dv_only_bucket_selection_returns_typed_empty(
    spark, tmp_path
):
    path = str(tmp_path / "mor_dvonly2")
    base = spark.createDataFrame([(1, "a")], "k long, name string")
    create_mor(spark, path, base, "k", N_BUCKETS)
    ch = spark.createDataFrame(
        [(3, None, True)], "k long, name string, t boolean"
    )
    upsert_mor(spark, path, ch, tombstone_col="t")
    out = read_mor(spark, path, buckets={3})
    assert out.columns == ["k", "name"]
    assert out.count() == 0


def test_upsert_commit_jobs_carry_caller_job_group(spark, mor_table):
    """The commit's pooled deletion-vector and append writes inherit the
    caller's job group, so every job upsert_mor launches is attributed
    to the caller."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    ch = spark.createDataFrame(
        [(3, "upd-3", 333, False), (7, None, None, True)],
        "k long, name string, val long, dead boolean",
    )
    sc.setJobGroup("upsert-mor-caller", "upsert_mor job-group test")
    try:
        first = jsc.dagScheduler().nextJobId()
        upsert_mor(spark, mor_table, ch, tombstone_col="dead")
        last = jsc.dagScheduler().nextJobId()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jsc.listenerBus().waitUntilEmpty()
    assert last - first >= 2  # at least the DV write and the append write
    groups = [jsc.statusStore().job(j).jobGroup() for j in range(first, last)]
    assert {g.get() if g.isDefined() else None for g in groups} == {
        "upsert-mor-caller"
    }


def test_concurrent_commit_claim_blocks_second_writer(spark, mor_table):
    """Two writers that both computed version n+1: the second create of
    the commit lock fails BEFORE any data is written."""
    from ida_dataengineerproject_spark.sources.commit import (
        ConcurrentWriteError,
        _claim_commit,
    )

    _claim_commit(spark, mor_table, 1)  # writer A claims v1
    ch = spark.createDataFrame([(1, "x", 0, False)],
                               "k long, name string, val long, t boolean")
    with pytest.raises(ConcurrentWriteError):
        upsert_mor(spark, mor_table, ch, tombstone_col="t")  # writer B
    # the loser never frees a claim it did not take: A's lock stands
    assert os.path.exists(os.path.join(mor_table, "_log", "v1.lock"))
    # writer A's claimed version is untouched: no data/v1 dir appeared
    assert not os.path.exists(os.path.join(mor_table, "data", "v1"))
