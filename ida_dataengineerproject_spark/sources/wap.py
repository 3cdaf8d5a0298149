"""Write-Audit-Publish (WAP): write a frame, run a declarative audit
suite over the WRITTEN FILES, and publish only when every check passes —
the Iceberg/Netflix WAP pattern on plain parquet.

The audit reads what was actually written (not the input plan), so it
also covers write-path corruption, and it folds every check into ONE
aggregate pass over the written data (the xq1 single-scan property —
audit cost is one scan regardless of suite size).

A WAP table is a versioned table of one bucket (``n_buckets`` 1, read
with ``operators.merge_cow.read_version``): each publish is one
:func:`sources.commit.versioned_commit` whose body writes the whole frame
to ``data/v{n}``, audits it there, and leaves the log entry to make it
live.  A refused audit raises inside the commit, so no entry is
published, ``data/v{n}`` is deleted and the previous version stays the
live one, byte-stable.  Publishers take the same ``v{n}.lock`` claim as
every other lake writer, so concurrent publishers exclude each other,
and earlier publishes stay readable by time travel until vacuumed.

100 TB: the alternative — audit after publish — serves bad data to every
reader between publish and rollback; auditing the written files costs
one extra scan of the NEW data only (never the table), which is the
price of never publishing a violation.

Reference scope: the reference validates frames in pandas before the
Postgres load (/root/reference/etl/etl_ida.py dropna/invalid-cell
filters) — same gate, lifted to an atomic storage handoff.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .commit import BUCKET_COL, read_log, versioned_commit


class AuditError(RuntimeError):
    """At least one audit found violations; nothing was published."""

    def __init__(self, violations: dict[str, int]):
        self.violations = violations
        bad = {k: v for k, v in violations.items() if v}
        super().__init__(f"audit failed, write discarded: {bad}")


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
    """Write ``df`` as the next version of the WAP table at ``path``,
    evaluate every audit (``(name, aggregate expression counting
    violations)`` — see :func:`row_violations` / :func:`duplicate_keys`)
    in one aggregate pass over the written files, and publish by
    committing the log entry.  On any violation :class:`AuditError`
    raises and nothing is published.  Returns the per-audit violation
    counts (all zero on success)."""
    try:
        version = read_log(spark, path)["version"] + 1
    except FileNotFoundError:
        version = 0
    log = {
        "version": version,
        "key": None,
        "n_buckets": 1,
        "buckets": {"0": version},
    }
    with versioned_commit(spark, path, log):
        written = f"{path.rstrip('/')}/data/v{version}/{BUCKET_COL}=0"
        df.write.mode("overwrite").parquet(written)
        row = (
            spark.read.parquet(written)
            .agg(*[expr.cast("long").alias(name) for name, expr in audits])
            .collect()[0]
        )
        violations = {name: int(row[name]) for name, _ in audits}
        if any(violations.values()):
            raise AuditError(violations)
    return violations
