"""CSV / JSON(L) source + sink wrappers (scan-format breadth beyond
parquet; reference op04's spreadsheet scan generalized to the text
formats a data-lake ingest actually meets).

Design rules for scale:
- **Always pass an explicit schema.**  Schema inference reads the data
  twice (a full extra pass at 100 TB) and can silently flip types
  between batches; the reference's ODS ingest had exactly this dynamic-
  typing hazard (month columns arriving as Timestamp or string,
  etl/etl_ida.py:351-359).
- **PERMISSIVE mode + _corrupt_record column** mirrors the reference's
  skip-and-log cell handling (etl/etl_ida.py:374-375): bad rows become
  audit rows, never job failures.
- CSV/JSON are splittable only when uncompressed (or bzip2); gzipped
  files serialize to one task each — convert to parquet at the ingest
  boundary and query columnar from then on.
- Split clean from quarantined rows inside the consuming plan (a filter
  or a conditional aggregate on the corrupt marker, as
  ``queries/io_ops.py`` does): one scan, no cache.  Spark refuses a plan
  that reads ONLY the corrupt-record column of a raw text scan
  (QUERY_ONLY_CORRUPT_RECORD_COLUMN), so the split must read a data
  column too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema: T.StructType) -> T.StructType:
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    """CSV scan with explicit schema and quarantine column for malformed
    rows (PERMISSIVE).  Locale-tolerant numeric parsing (comma decimals,
    '%' suffixes — reference op21) stays a separate explicit transform:
    read as string, then functions/numparse.parse_locale_number."""
    return (
        spark.read.schema(_with_corrupt(schema))
        .option("header", header)
        .option("sep", delimiter)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    )


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Newline-delimited JSON scan (one object per line — the splittable
    layout; multiLine=true would make each FILE one record and one task).
    Malformed lines land in the quarantine column."""
    return (
        spark.read.schema(_with_corrupt(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    """CSV sink (interchange/export only — never the analytic store)."""
    df.write.mode("overwrite").option("header", header).csv(path)


def write_jsonl(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)
