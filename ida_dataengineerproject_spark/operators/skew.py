"""Skew-resilient aggregation + skew measurement (100 TB posture;
SURVEY.md §4 / driver scale mandate).

AQE's skew-join handling covers joins; for aggregations over heavy-hitter
keys the classic fix is salting: split each hot key into `salt` subkeys,
partially aggregate, then finish on the true key.  Semantically identical
to the direct aggregate (asserted by oracle); physically it spreads one
hot key's rows over `salt` reducers before the (tiny) final aggregation.

For algebraic aggregates Spark's own partial aggregation already does
map-side combining — salting matters when the partial step can't absorb
the skew (high-cardinality compound keys, memory-bounded partials,
sort-based fallback).  The operator exists so pipelines can opt in
per-aggregation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_sum(
    df: DataFrame,
    keys: Sequence[str],
    value: Column | str,
    out_col: str,
    salt: int = 16,
    salt_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Two-stage SUM: (keys, salt) partial → keys final.  Decimal-exact so
    stage order can't perturb float results.

    The salt hashes ``salt_cols`` (default: every non-key column) — a
    STABLE row property, so a retried task salts identically.  A
    ``monotonically_increasing_id()`` salt is nondeterministic under
    task retry: harmless for algebraic SUM but a repeatability footgun
    the moment the pattern is copied for non-algebraic aggregates."""
    v = F.col(value) if isinstance(value, str) else value
    if salt_cols is None:
        salt_cols = [c for c in df.columns if c not in set(keys)] or list(keys)
    partial = (
        df.withColumn(
            "__salt", F.pmod(F.xxhash64(*keys, *salt_cols), F.lit(salt))
        )
        .groupBy(*keys, "__salt")
        .agg(F.sum(v.cast("decimal(38,6)")).alias("__part"))
    )
    return (
        partial.groupBy(*keys)
        .agg(F.sum("__part").cast("double").alias(out_col))
    )
