"""Write-Audit-Publish (WAP): stage a write, run a declarative audit
suite over the STAGED FILES, and atomically publish only when every
check passes — the Iceberg/Netflix WAP pattern on plain parquet.

The audit reads what was actually written (not the input plan), so it
also covers write-path corruption, and it folds every check into ONE
aggregate pass over the staged data (the xq1 single-scan property —
audit cost is one scan regardless of suite size).  Staging and
publishing go through the whole-directory rename-aside swap of
sources/commit.py (``rename_aside``), the same swap merge_cow.py runs
per bucket: its recovery sweep first restores a publish that crashed
between its two renames, so the audit and any refusal start from the
previously published data; a failed audit deletes staging and leaves
that data untouched and live.

100 TB: the alternative — audit after publish — serves bad data to every
reader between publish and rollback; auditing the staged files costs one
extra scan of the NEW data only (never the table), which is the price of
never publishing a violation.

Reference scope: the reference validates frames in pandas before the
Postgres load (/root/reference/etl/etl_ida.py dropna/invalid-cell
filters) — same gate, lifted to an atomic storage handoff.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .commit import rename_aside


class AuditError(RuntimeError):
    """At least one audit found violations; nothing was published."""

    def __init__(self, violations: dict[str, int]):
        self.violations = violations
        bad = {k: v for k, v in violations.items() if v}
        super().__init__(f"audit failed, staging discarded: {bad}")


def row_violations(cond: Column) -> Column:
    """Audit expression: how many rows satisfy the VIOLATION condition."""
    return F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0))


def duplicate_keys(col: str) -> Column:
    """Audit expression: how many NON-NULL-keyed rows share an
    already-seen key.  count(col) (not count(*)) so NULL keys are the
    null-completeness audit's finding, not phantom duplicates."""
    return F.count(F.col(col)) - F.countDistinct(col)


def write_audit_publish(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    audits: list[tuple[str, Column]],
) -> dict[str, int]:
    """Recover a crashed earlier publish, stage ``df`` at
    ``<path>__staging``, evaluate every audit (``(name, aggregate
    expression counting violations)`` — see :func:`row_violations` /
    :func:`duplicate_keys`) in one aggregate pass over the staged files,
    then swap staging into ``path``.  On any violation the staging
    directory is deleted and :class:`AuditError` raises — the published
    path is never touched.  Returns the per-audit violation counts (all
    zero on success)."""
    with rename_aside(spark, path) as staging:
        df.write.mode("overwrite").parquet(staging)
        row = (
            spark.read.parquet(staging)
            .agg(*[expr.cast("long").alias(name) for name, expr in audits])
            .collect()[0]
        )
        violations = {name: int(row[name]) for name, _ in audits}
        if any(violations.values()):
            raise AuditError(violations)  # staging discarded, path untouched
    return violations
