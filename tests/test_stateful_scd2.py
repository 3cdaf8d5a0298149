"""Tests: SCD2 merge (operators/scd2.py)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F


def _dim(spark):
    rows = [
        ("VIVO", "TELEFÔNICA BRASIL S.A.", datetime(2020, 1, 1), None, True),
        ("OI", "OI S.A.", datetime(2020, 1, 1), None, True),
        # already-closed historical row must pass through untouched
        ("OI", "OI TELECOM LTDA", datetime(2010, 1, 1), datetime(2020, 1, 1), False),
    ]
    return spark.createDataFrame(
        rows,
        "grupo_codigo string, grupo_nome string, valid_from timestamp, "
        "valid_to timestamp, is_current boolean",
    )


def test_scd2_merge(spark):
    from ida_dataengineerproject_spark.operators.scd2 import scd2_merge

    updates = spark.createDataFrame(
        [
            ("VIVO", "VIVO S.A."),        # changed name → new version
            ("OI", "OI S.A."),            # unchanged → passthrough
            ("ALGAR", "ALGAR TELECOM"),   # new key → inserted current
        ],
        "grupo_codigo string, grupo_nome string",
    )
    ts = F.lit("2024-06-01").cast("timestamp")
    merged = scd2_merge(
        _dim(spark), updates, ["grupo_codigo"], ["grupo_nome"], batch_ts=ts
    )
    rows = {(r.grupo_codigo, r.grupo_nome, r.is_current, r.valid_to is None)
            for r in merged.collect()}
    assert rows == {
        ("VIVO", "VIVO S.A.", True, True),                 # new current
        ("VIVO", "TELEFÔNICA BRASIL S.A.", False, False),  # closed
        ("OI", "OI S.A.", True, True),                     # unchanged
        ("OI", "OI TELECOM LTDA", False, False),           # old history
        ("ALGAR", "ALGAR TELECOM", True, True),            # inserted
    }
    # exactly one current row per key
    cur = merged.filter("is_current").groupBy("grupo_codigo").count()
    assert cur.filter("count > 1").count() == 0


def test_scd2_idempotent(spark):
    """Re-applying the same batch is a no-op (no spurious versions)."""
    from ida_dataengineerproject_spark.operators.scd2 import scd2_merge

    updates = spark.createDataFrame(
        [("VIVO", "VIVO S.A.")], "grupo_codigo string, grupo_nome string"
    )
    ts = F.lit("2024-06-01").cast("timestamp")
    once = scd2_merge(_dim(spark), updates, ["grupo_codigo"], ["grupo_nome"], ts)
    twice = scd2_merge(once, updates, ["grupo_codigo"], ["grupo_nome"], ts)
    assert twice.count() == once.count()
