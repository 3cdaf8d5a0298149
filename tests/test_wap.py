"""Write-Audit-Publish (sources/wap.py): the refusal path must leave the
published path byte-stable, the success path must publish through the
commit log, and the audit must read the written FILES (not the input
plan)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest


def _files(path: str) -> dict[str, tuple[int, float]]:
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime)
    return out


def _audits():
    from ida_dataengineerproject_spark.sources.wap import (
        duplicate_keys,
        row_violations,
    )

    return [
        ("dup_k", duplicate_keys("k")),
        ("null_k", row_violations(F.col("k").isNull())),
        ("neg_v", row_violations(F.col("v") < 0)),
    ]


def test_good_publish_lands_and_reads_back(spark, tmp_path):
    from ida_dataengineerproject_spark.operators.merge_cow import read_version
    from ida_dataengineerproject_spark.sources.wap import write_audit_publish

    path = str(tmp_path / "pub")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    counts = write_audit_publish(spark, df, path, _audits())
    assert counts == {"dup_k": 0, "null_k": 0, "neg_v": 0}
    assert read_version(spark, path).count() == 100
    # the claim is released and the entry published under its own name
    log = os.listdir(os.path.join(path, "_log"))
    assert [n for n in log if not n.startswith(".")] == ["v0.json"]


def test_failed_audit_keeps_previous_publish_byte_stable(spark, tmp_path):
    from ida_dataengineerproject_spark.operators.merge_cow import read_version
    from ida_dataengineerproject_spark.sources.wap import (
        AuditError,
        write_audit_publish,
    )

    path = str(tmp_path / "pub")
    good = spark.range(50).select(
        F.col("id").alias("k"), F.lit(1.0).alias("v")
    )
    write_audit_publish(spark, good, path, _audits())
    before = _files(path)

    bad = good.unionByName(good.limit(3))  # duplicate keys
    with pytest.raises(AuditError) as ei:
        write_audit_publish(spark, bad, path, _audits())
    assert ei.value.violations["dup_k"] == 3
    assert _files(path) == before  # published data untouched
    assert not os.path.exists(os.path.join(path, "data", "v1"))  # discarded
    assert read_version(spark, path).count() == 50


def test_audit_counts_multiple_violation_kinds(spark, tmp_path):
    from ida_dataengineerproject_spark.operators.merge_cow import read_version
    from ida_dataengineerproject_spark.sources.wap import (
        AuditError,
        write_audit_publish,
    )

    path = str(tmp_path / "pub2")
    df = spark.createDataFrame(
        [(1, 1.0), (1, 2.0), (None, 3.0), (4, -5.0)], "k long, v double"
    )
    with pytest.raises(AuditError) as ei:
        write_audit_publish(spark, df, path, _audits())
    v = ei.value.violations
    # NULL key is the null audit's finding only — 3 non-null keys,
    # 2 distinct -> exactly ONE duplicate; no phantom dup from the NULL
    assert v == {"dup_k": 1, "null_k": 1, "neg_v": 1}
    with pytest.raises(FileNotFoundError):
        read_version(spark, path)  # nothing ever published


def test_concurrent_publishers_exclude_each_other(spark, tmp_path):
    """A publish takes the same _log/v{n}.lock claim as every other lake
    writer: while another publisher holds v1, a second publish of v1
    fails before writing anything, and v0 stays the readable version."""
    from ida_dataengineerproject_spark.operators.merge_cow import read_version
    from ida_dataengineerproject_spark.sources.commit import (
        ConcurrentWriteError,
    )
    from ida_dataengineerproject_spark.sources.wap import write_audit_publish

    path = str(tmp_path / "pub")
    df = spark.range(10).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    write_audit_publish(spark, df, path, _audits())
    open(os.path.join(path, "_log", "v1.lock"), "w").close()  # held by A

    df2 = spark.range(20).select(F.col("id").alias("k"), F.lit(2.0).alias("v"))
    with pytest.raises(ConcurrentWriteError, match="v1.lock"):
        write_audit_publish(spark, df2, path, _audits())
    assert not os.path.exists(os.path.join(path, "data", "v1"))
    assert os.path.exists(os.path.join(path, "_log", "v1.lock"))  # A's
    assert sorted(r["k"] for r in read_version(spark, path).collect()) == list(
        range(10)
    )
