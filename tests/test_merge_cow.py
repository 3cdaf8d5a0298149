"""Copy-on-write MERGE (operators/merge_cow.py): file-level COW
guarantees the oracle parity of xs6 can't see — a merge writes only its
impacted buckets and leaves every existing file as it was, an emptied
bucket leaves the log, reapplying a changeset is idempotent."""

from __future__ import annotations

import os

import pyspark.sql.functions as F


def _files(path: str) -> dict[str, tuple[int, float]]:
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime)
    return out


def _mktarget(spark, path: str, n: int = 1000, n_buckets: int = 8):
    from ida_dataengineerproject_spark.operators.merge_cow import (
        create_versioned,
    )

    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).cast("double").alias("v"),
    )
    create_versioned(spark, path, df, "k", n_buckets)
    return df


def test_untouched_buckets_keep_identical_files(spark, tmp_path):
    from ida_dataengineerproject_spark.operators.merge_cow import (
        merge_versioned,
        read_version,
    )

    path = str(tmp_path / "t")
    _mktarget(spark, path)
    v0 = os.path.join(path, "data", "v0")
    before = _files(v0)

    # change keys all in bucket 3 (k % 8 == 3)
    ch = spark.createDataFrame(
        [(3, -1.0, False), (11, -2.0, False), (1003, 5.0, False)],
        "k long, v double, dead boolean",
    )
    assert merge_versioned(spark, path, ch, tombstone_col="dead") == 1

    v1 = os.path.join(path, "data", "v1")
    written = [d for d in os.listdir(v1) if os.path.isdir(os.path.join(v1, d))]
    assert written == ["__mbucket=3"]  # only the impacted bucket
    assert _files(v0) == before  # names, sizes, mtimes

    got = {
        r["k"]: r["v"]
        for r in read_version(spark, path).filter(F.col("k") % 8 == 3).collect()
    }
    assert got[3] == -1.0 and got[11] == -2.0 and got[1003] == 5.0
    assert got[19] == 190.0  # unchanged row in the impacted bucket survives
    assert len(got) == 125 + 1  # 125 original keys + 1 insert


def test_emptied_bucket_directory_is_removed(spark, tmp_path):
    from ida_dataengineerproject_spark.operators.merge_cow import (
        _bucket_dirs,
        merge_versioned,
        read_version,
    )
    from ida_dataengineerproject_spark.sources.commit import read_log

    path = str(tmp_path / "t")
    _mktarget(spark, path, n=16, n_buckets=8)  # keys 0..15, 2 per bucket
    ch = spark.createDataFrame(
        [(5, 0.0, True), (13, 0.0, True)], "k long, v double, dead boolean"
    )
    merge_versioned(spark, path, ch, tombstone_col="dead")
    log = read_log(spark, path)
    assert "5" not in log["buckets"]
    assert not any("__mbucket=5" in d for d in _bucket_dirs(path, log))
    assert not os.path.exists(os.path.join(path, "data", "v1", "__mbucket=5"))
    keys = {r["k"] for r in read_version(spark, path).collect()}
    assert keys == set(range(16)) - {5, 13}


def test_merge_is_idempotent(spark, tmp_path):
    from ida_dataengineerproject_spark.operators.merge_cow import (
        merge_versioned,
        read_version,
    )

    path = str(tmp_path / "t")
    _mktarget(spark, path)
    ch = spark.createDataFrame(
        [(7, -7.0, False), (2000, 1.0, False), (15, 0.0, True)],
        "k long, v double, dead boolean",
    )
    merge_versioned(spark, path, ch, tombstone_col="dead")
    state1 = sorted(
        (r["k"], r["v"]) for r in read_version(spark, path).collect()
    )
    merge_versioned(spark, path, ch, tombstone_col="dead")
    state2 = sorted(
        (r["k"], r["v"]) for r in read_version(spark, path).collect()
    )
    assert state1 == state2
    d = dict(state1)
    assert d[7] == -7.0 and d[2000] == 1.0 and 15 not in d


# ------------------------------------------------- versioned / time travel


def test_time_travel_old_version_is_byte_stable(spark, tmp_path):
    from ida_dataengineerproject_spark.operators.merge_cow import (
        create_versioned,
        merge_versioned,
        read_version,
    )

    path = str(tmp_path / "vt")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).cast("double").alias("v")
    )
    create_versioned(spark, path, df, "k", 8)
    v0_files = _files(path)

    ch = spark.createDataFrame(
        [(1, -1.0, False), (200, 9.0, False), (9, 0.0, True)],
        "k long, v double, dead boolean",
    )
    v = merge_versioned(spark, path, ch, tombstone_col="dead")
    assert v == 1

    # every v0 data file still there, byte-identical (additions only)
    after = _files(path)
    for p, meta in v0_files.items():
        assert after.get(p) == meta, p

    v0 = {r["k"]: r["v"] for r in read_version(spark, path, 0).collect()}
    v1 = {r["k"]: r["v"] for r in read_version(spark, path, 1).collect()}
    latest = {r["k"]: r["v"] for r in read_version(spark, path).collect()}
    assert v0[1] == 2.0 and 9 in v0 and 200 not in v0 and len(v0) == 100
    assert v1[1] == -1.0 and 9 not in v1 and v1[200] == 9.0 and len(v1) == 100
    assert latest == v1


def test_time_travel_across_multiple_commits_and_bucket_drop(spark, tmp_path):
    from ida_dataengineerproject_spark.operators.merge_cow import (
        create_versioned,
        merge_versioned,
        read_version,
    )

    path = str(tmp_path / "vt2")
    df = spark.range(16).select(
        F.col("id").alias("k"), F.lit(1.0).alias("v")
    )  # 8 buckets x 2 keys
    create_versioned(spark, path, df, "k", 8)

    # commit 1: drop bucket 5 entirely (keys 5 and 13)
    ch1 = spark.createDataFrame(
        [(5, 0.0, True), (13, 0.0, True)], "k long, v double, dead boolean"
    )
    merge_versioned(spark, path, ch1, tombstone_col="dead")
    # commit 2: resurrect key 5
    ch2 = spark.createDataFrame([(5, 7.0, False)], "k long, v double, dead boolean")
    merge_versioned(spark, path, ch2, tombstone_col="dead")

    keys_by_version = [
        {r["k"] for r in read_version(spark, path, v).collect()}
        for v in (0, 1, 2)
    ]
    assert keys_by_version[0] == set(range(16))
    assert keys_by_version[1] == set(range(16)) - {5, 13}
    assert keys_by_version[2] == set(range(16)) - {13}
    got = {r["k"]: r["v"] for r in read_version(spark, path, 2).collect()}
    assert got[5] == 7.0


def test_read_unknown_version_raises(spark, tmp_path):
    import pytest

    from ida_dataengineerproject_spark.operators.merge_cow import (
        create_versioned,
        read_version,
    )

    path = str(tmp_path / "vt3")
    create_versioned(
        spark, path, spark.range(4).select(F.col("id").alias("k")), "k", 2
    )
    with pytest.raises(FileNotFoundError):
        read_version(spark, path, 7)


def test_vacuum_respects_carried_over_dirs_and_expires_logs(spark, tmp_path):
    from ida_dataengineerproject_spark.operators.merge_cow import (
        create_versioned,
        merge_versioned,
        read_version,
        vacuum_versioned,
    )

    path = str(tmp_path / "vac")
    df = spark.range(16).select(
        F.col("id").alias("k"), F.lit(1.0).alias("v")
    )  # 8 buckets x 2 keys
    create_versioned(spark, path, df, "k", 8)
    # commit 1 rewrites bucket 1 (key 1); commit 2 rewrites bucket 2 (key 2)
    merge_versioned(
        spark,
        path,
        spark.createDataFrame([(1, -1.0, False)], "k long, v double, dead boolean"),
        tombstone_col="dead",
    )
    merge_versioned(
        spark,
        path,
        spark.createDataFrame([(2, -2.0, False)], "k long, v double, dead boolean"),
        tombstone_col="dead",
    )
    before = {r["k"]: r["v"] for r in read_version(spark, path).collect()}
    retained_files = {
        p: m
        for p, m in _files(path).items()
        # v2's snapshot references: v1/b1, v2/b2, v0/everything-else
        if not (
            p.startswith("data/v0/__mbucket=1")
            or p.startswith("data/v0/__mbucket=2")
        )
        and "_log" not in p
    }

    stats = vacuum_versioned(spark, path, retain_from=2)
    assert stats["deleted_dirs"] == 2  # v0/b1 and v0/b2
    assert stats["deleted_logs"] == 2  # v0.json, v1.json

    # latest snapshot unchanged, retained files byte-stable
    after = {r["k"]: r["v"] for r in read_version(spark, path).collect()}
    assert after == before
    now = _files(path)
    for p, m in retained_files.items():
        assert now.get(p) == m, p
    # carried-over expired-commit dir survives (v1/b1 is live in v2's log)
    assert os.path.isdir(os.path.join(path, "data/v1/__mbucket=1"))
    assert not os.path.exists(os.path.join(path, "data/v0/__mbucket=1"))
    assert not os.path.exists(os.path.join(path, "data/v0/__mbucket=2"))

    # expired versions now unreadable; retained one still is
    import pytest as _pytest

    for v in (0, 1):
        with _pytest.raises(FileNotFoundError):
            read_version(spark, path, v)
    assert len(read_version(spark, path, 2).collect()) == 16


def test_vacuum_retain_all_is_a_noop(spark, tmp_path):
    from ida_dataengineerproject_spark.operators.merge_cow import (
        create_versioned,
        merge_versioned,
        vacuum_versioned,
    )

    path = str(tmp_path / "vac0")
    df = spark.range(8).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    create_versioned(spark, path, df, "k", 4)
    merge_versioned(
        spark,
        path,
        spark.createDataFrame([(3, 5.0, False)], "k long, v double, dead boolean"),
        tombstone_col="dead",
    )
    before = _files(path)
    stats = vacuum_versioned(spark, path, retain_from=0)
    assert stats["deleted_dirs"] == 0 and stats["deleted_logs"] == 0
    assert _files(path) == before


def test_cdf_reads_only_differing_buckets_and_classifies(spark, tmp_path):
    from ida_dataengineerproject_spark.operators.merge_cow import (
        _cdf_inputs,
        change_data_feed,
        create_versioned,
        merge_versioned,
    )

    path = str(tmp_path / "cdf")
    df = spark.range(16).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )  # 8 buckets x 2 keys
    create_versioned(spark, path, df, "k", 8)
    # update k=1 (bucket 1), delete k=2 (bucket 2), insert k=100 (bucket 4)
    ch = spark.createDataFrame(
        [(1, -1.0, False), (2, 0.0, True), (100, 9.0, False)],
        "k long, v double, dead boolean",
    )
    merge_versioned(spark, path, ch, tombstone_col="dead")

    dirs_a, dirs_b, key = _cdf_inputs(spark, path, 0, 1)
    assert key == "k"
    # only buckets 1, 2, 4 differ; bucket 2 was NOT emptied (k=10 survives)
    assert len(dirs_a) == 3 and len(dirs_b) == 3
    assert all("__mbucket=" in d for d in dirs_a + dirs_b)

    rows = {
        (r["k"], r["change_type"]): (
            r["old"]["v"] if r["old"] else None,
            r["new"]["v"] if r["new"] else None,
        )
        for r in change_data_feed(spark, path, 0, 1).collect()
    }
    # survivors of rewritten buckets (k=9, 10, 12 …) must NOT appear
    assert rows == {
        (1, "update"): (1.0, -1.0),
        (2, "delete"): (2.0, None),
        (100, "insert"): (None, 9.0),
    }


def test_cdf_identical_versions_raise(spark, tmp_path):
    import pytest as _pytest

    from ida_dataengineerproject_spark.operators.merge_cow import (
        change_data_feed,
        create_versioned,
    )

    path = str(tmp_path / "cdf0")
    df = spark.range(8).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    create_versioned(spark, path, df, "k", 4)
    with _pytest.raises(ValueError):
        change_data_feed(spark, path, 0, 0)


def test_shallow_clone_is_zero_copy_and_diverges_safely(spark, tmp_path):
    from ida_dataengineerproject_spark.operators.merge_cow import (
        create_versioned,
        merge_versioned,
        read_version,
        shallow_clone,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.range(16).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    create_versioned(spark, src, df, "k", 8)
    v = shallow_clone(spark, src, dst)
    assert v == 0
    # zero-copy: the clone owns NO data files, only a log
    assert not os.path.exists(os.path.join(dst, "data"))
    clone0 = {r["k"]: r["v"] for r in read_version(spark, dst).collect()}
    assert clone0 == {i: float(i) for i in range(16)}

    src_files = _files(os.path.join(src, "data"))
    ch = spark.createDataFrame(
        [(1, -1.0, False), (2, 0.0, True)], "k long, v double, dead boolean"
    )
    merge_versioned(spark, dst, ch, tombstone_col="dead")

    # source data byte-stable; source latest unchanged
    assert _files(os.path.join(src, "data")) == src_files
    assert {r["k"] for r in read_version(spark, src).collect()} == set(range(16))
    # clone diverged: update applied, delete applied, inherited buckets intact
    got = {r["k"]: r["v"] for r in read_version(spark, dst).collect()}
    assert got[1] == -1.0 and 2 not in got and len(got) == 15
    # the clone's own commit lives under ITS data tree
    assert os.path.isdir(os.path.join(dst, "data", "v1"))


def test_shallow_clone_of_diverged_clone_refused(spark, tmp_path):
    import pytest as _pytest

    from ida_dataengineerproject_spark.operators.merge_cow import (
        create_versioned,
        merge_versioned,
        shallow_clone,
    )

    src, mid, leaf = (
        str(tmp_path / "src"),
        str(tmp_path / "mid"),
        str(tmp_path / "leaf"),
    )
    df = spark.range(8).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    create_versioned(spark, src, df, "k", 4)
    shallow_clone(spark, src, mid)
    # undiverged clone-of-clone is fine (same base)
    shallow_clone(spark, mid, leaf)
    merge_versioned(
        spark,
        mid,
        spark.createDataFrame([(1, 9.0, False)], "k long, v double, dead boolean"),
        tombstone_col="dead",
    )
    with _pytest.raises(ValueError):
        shallow_clone(spark, mid, str(tmp_path / "leaf2"))


def test_cdf_one_sided_diff_keeps_typed_schema(spark, tmp_path):
    """Pure-insert diff into buckets absent at v_from: the 'old' column
    must still be a typed struct (readable fields, parquet-writable),
    never a NullType literal."""
    from ida_dataengineerproject_spark.operators.merge_cow import (
        change_data_feed,
        create_versioned,
        merge_versioned,
    )

    path = str(tmp_path / "cdf1s")
    df = spark.range(4).select(
        (F.col("id") * 8).alias("k"), F.lit(1.0).alias("v")
    )  # all keys land in bucket 0 of 8
    create_versioned(spark, path, df, "k", 8)
    ch = spark.createDataFrame(
        [(3, 9.0, False)], "k long, v double, dead boolean"
    )  # bucket 3: absent at v0 -> dirs_a is empty for the diff
    merge_versioned(spark, path, ch, tombstone_col="dead")

    feed = change_data_feed(spark, path, 0, 1)
    assert feed.schema["old"].dataType.typeName() == "struct"
    rows = feed.select(
        "k", "change_type", F.col("old.v").alias("ov"), F.col("new.v").alias("nv")
    ).collect()
    assert [(r["k"], r["change_type"], r["ov"], r["nv"]) for r in rows] == [
        (3, "insert", None, 9.0)
    ]
    out = str(tmp_path / "feed")  # NullType would make this write fail
    feed.write.mode("overwrite").parquet(out)
    assert spark.read.parquet(out).count() == 1


def test_vacuum_on_clone_rejects_retain_below_watermark(spark, tmp_path):
    import pytest as _pytest

    from ida_dataengineerproject_spark.operators.merge_cow import (
        create_versioned,
        merge_versioned,
        shallow_clone,
        vacuum_versioned,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.range(8).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    create_versioned(spark, src, df, "k", 4)
    merge_versioned(
        spark,
        src,
        spark.createDataFrame([(1, 2.0, False)], "k long, v double, dead boolean"),
        tombstone_col="dead",
    )
    shallow_clone(spark, src, dst)  # clone history starts at v1
    merge_versioned(
        spark,
        dst,
        spark.createDataFrame([(2, 3.0, False)], "k long, v double, dead boolean"),
        tombstone_col="dead",
    )
    with _pytest.raises(ValueError, match="watermark"):
        vacuum_versioned(spark, dst, retain_from=0)
    # valid floor works and never touches the base
    stats = vacuum_versioned(spark, dst, retain_from=2)
    assert stats["deleted_logs"] == 1  # the clone's own v1 creation entry
