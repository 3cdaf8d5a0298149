"""Gap-based sessionization (SURVEY.md §2.11 x05).

Classic pattern: per-user LAG(ts) → new-session flag when the gap exceeds
the threshold → running SUM of flags = session ordinal.  Pure window ops,
fully distributed: the window partitions by user_id, so no global sort and
skew only if one user dominates (AQE skew handling applies on the shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """Attach ``session_seq`` (1-based per user) to each event."""
    w = Window.partitionBy(user_col).orderBy(ts_col)
    # integer microseconds: exact on both Spark and the DuckDB oracle
    gap = F.unix_micros(F.col(ts_col)) - F.unix_micros(F.lag(ts_col).over(w))
    new_session = F.when(
        gap.isNull() | (gap > gap_minutes * 60 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    return df.withColumn(
        "session_seq",
        F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def session_stats(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """Session-level rollup: event count, start/end, duration seconds."""
    s = sessionize(df, user_col, ts_col, gap_minutes)
    return s.groupBy(user_col, "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        (
            F.unix_micros(F.max(ts_col)) - F.unix_micros(F.min(ts_col))
        ).alias("duration_us"),
    )
