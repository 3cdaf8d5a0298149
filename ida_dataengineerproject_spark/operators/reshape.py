"""Reshaping operators (SURVEY.md §2.3): forward-fill, unpivot, pivot.

Reference:
- ffill of merged-cell group names: etl/etl_ida.py:249 (pandas ``.ffill()``) —
  order-dependent, so the Spark version windows over an explicit row index
  carried from the source (SURVEY.md §7.4.1).
- unpivot wide month columns → long records: etl/etl_ida.py:308-372.
- pivot long → one column per operator group: schema_star.sql:151-160.

Scale notes: ffill partitions by source file (each file's rows are
independent), so the window never concentrates more than one file on an
executor.  Unpivot is Spark's native ``unpivot`` (a single Expand node, no
shuffle).  Pivot uses an explicit value list so Spark skips the extra
distinct-values job and column order is deterministic.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_MONTH_COL = re.compile(r"^(20[0-3][0-9])-(0[1-9]|1[0-2])")


def month_columns(df: DataFrame) -> list[str]:
    """Detect YYYY-MM month columns (reference etl/etl_ida.py:308-313,
    380-396: name matches YYYY-MM or is a Timestamp in 2000-2030)."""
    return [c for c in df.columns if _MONTH_COL.match(c)]


def forward_fill(
    df: DataFrame,
    col: str,
    order_col: str,
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """Propagate the last non-null value of ``col`` down ``order_col`` order
    within each partition — pandas ``ffill`` (etl/etl_ida.py:249) as a
    last(ignorenulls) running window.
    """
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(col, F.last(col, ignorenulls=True).over(w))


def month_start(col: str) -> Column:
    """'YYYY-MM' → first-of-month date (op22, etl/etl_ida.py:350-359)."""
    return F.to_date(F.concat(F.substring(col, 1, 7), F.lit("-01")))


def unpivot_months(
    df: DataFrame,
    id_cols: Sequence[str],
    month_cols: Sequence[str] | None = None,
    var_name: str = "ano_mes",
    value_name: str = "valor_raw",
) -> DataFrame:
    """Wide month-columns → long (one record per row × month); reference
    etl/etl_ida.py:337-372.  Spark-native ``unpivot`` = one Expand node,
    shuffle-free, fully codegen'd.
    """
    mcols = list(month_cols) if month_cols is not None else month_columns(df)
    out = df.unpivot(list(id_cols), mcols, var_name, value_name)
    return out.withColumn(var_name, month_start(var_name))


def pivot_groups(
    df: DataFrame,
    row_keys: Sequence[str],
    pivot_col: str,
    pivot_values: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Long → wide with an explicit pivot-value list
    (schema_star.sql:151-160 hard-codes 10 group columns; passing the list
    avoids Spark's extra distinct job and fixes column order).
    MAX aggregation matches the reference's ``MAX(CASE WHEN ...)``.
    """
    return (
        df.groupBy(*row_keys)
        .pivot(pivot_col, list(pivot_values))
        .agg(F.max(value_col))
    )
