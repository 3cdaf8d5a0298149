"""Constraint-driven upsert / dedup operators (SURVEY.md §2.7).

Reference:
- fact dedup on hash: ``ON CONFLICT (hash_registro) DO NOTHING``
  (etl/etl_ida.py:534; UNIQUE constraints schema_star.sql:93-94).
- dimension insert-if-absent: 4× ``INSERT ... ON CONFLICT DO NOTHING``
  (etl/etl_ida.py:573-620).

Spark has no unique constraints, so these become explicit relational ops:
intra-batch ``dropDuplicates`` + LEFT ANTI join against the existing table.
Scale notes: the anti join is a plain equi-join — broadcast when the existing
key set is small (dims), shuffle-hash/SMJ on the fact hash otherwise; AQE
picks per-run.  This is exactly the Delta-less MERGE-WHEN-NOT-MATCHED.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def dedup_against(
    new: DataFrame, existing: DataFrame | None, keys: Sequence[str]
) -> DataFrame:
    """Drop intra-batch duplicates on ``keys``, then rows already present in
    ``existing`` (idempotent re-run semantics, etl/etl_ida.py:534).
    Duplicate keys on the right of a left-anti join do not change its
    output, so ``existing`` is not deduplicated first: that would only
    add an aggregate over every existing key."""
    out = new.dropDuplicates(list(keys))
    if existing is not None:
        out = out.join(existing.select(*keys), list(keys), "left_anti")
    return out
