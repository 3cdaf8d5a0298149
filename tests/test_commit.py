"""The lake commit protocol (sources/commit.py) as its writers see it: a
failed versioned commit releases its claim on both table kinds, a
Write-Audit-Publish restores a crashed swap before it audits, and
create_versioned finds its buckets by listing, not by re-reading."""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
import pytest
from pyspark.errors import AnalysisException

from ida_dataengineerproject_spark.operators.merge_cow import (
    BUCKET_COL,
    _read_log,
    create_versioned,
    merge_cow,
    merge_versioned,
    read_version,
    write_bucketed,
)
from ida_dataengineerproject_spark.operators.merge_mor import (
    create_mor,
    read_mor,
    upsert_mor,
)
from ida_dataengineerproject_spark.sources.wap import (
    AuditError,
    duplicate_keys,
    write_audit_publish,
)


def _rows(df) -> set[tuple]:
    return {(r["k"], r["v"]) for r in df.collect()}


def _jobs(spark, fn) -> int:
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = dag.nextJobId()
    fn()
    return dag.nextJobId() - first


def test_failed_commit_releases_its_claim_on_both_table_kinds(spark, tmp_path):
    """A merge whose changeset lacks the key column fails inside its
    commit; the claim on v1 must be released so the next merge commits
    v1 instead of failing with ConcurrentWriteError forever."""
    base = spark.createDataFrame(
        [(k, float(k)) for k in range(8)], "k long, v double"
    )
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


def test_wap_restores_a_crashed_swap_before_auditing(spark, tmp_path):
    """A publish that crashed between its two renames leaves the live
    table under <path>__prev and <path> missing.  The next publish —
    here one its audit refuses — must restore it first, so the refusal
    leaves the previously published data live."""
    path = str(tmp_path / "pub")
    audits = [("dup_k", duplicate_keys("k"))]
    good = spark.range(10).select(
        F.col("id").alias("k"), F.lit(1.0).alias("v")
    )
    write_audit_publish(spark, good, path, audits)
    os.rename(path, path + "__prev")  # crash between the two renames

    bad = good.unionByName(good.limit(2))  # duplicate keys
    with pytest.raises(AuditError):
        write_audit_publish(spark, bad, path, audits)
    assert _rows(spark.read.parquet(path)) == _rows(good)
    assert not os.path.exists(path + "__prev")


def test_create_versioned_on_an_empty_frame_commits_v0(spark, tmp_path):
    path = str(tmp_path / "empty")
    empty = spark.createDataFrame([], "k long, v double")
    assert create_versioned(spark, path, empty, "k", 4) == 0
    assert _read_log(spark, path)["buckets"] == {}
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


def test_cow_merge_restores_a_crashed_bucket_before_reading_it(spark, tmp_path):
    """A merge that crashed between the two renames of bucket 1 left it
    under <path>__prev.  The next merge touches bucket 1 too: the sweep
    must restore it before the survivors are read, or its other rows
    are lost."""
    path = str(tmp_path / "cow")
    df = spark.range(16).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    write_bucketed(df, "k", 4, path)
    os.makedirs(path + "__prev")
    shutil.move(f"{path}/{BUCKET_COL}=1", f"{path}__prev/{BUCKET_COL}=1")

    ch = spark.createDataFrame([(5, -5.0)], "k long, v double")
    merge_cow(spark, path, ch, "k", 4)
    expected = {(k, float(k)) for k in range(16) if k != 5} | {(5, -5.0)}
    assert _rows(spark.read.parquet(path)) == expected
    assert not os.path.exists(path + "__prev")
