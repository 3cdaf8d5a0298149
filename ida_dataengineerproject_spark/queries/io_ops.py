"""Interchange-format round-trips (round 5b): the CSV / JSONL source +
sink wrappers (sources/text_formats.py) exercised end-to-end under the
driver's oracle gate — write events out as text, read back with an
EXPLICIT schema (never inference), quarantine injected malformed lines
via PERMISSIVE mode, and aggregate the clean rows.

The oracle aggregates the same parquet source directly plus a literal
for the injected corrupt lines, so parity proves the text round-trip is
LOSSLESS: timestamps travel as epoch micros (BIGINT — the explicit
interchange encoding; ISO strings would re-open the timezone/format
ambiguity the reference hit with ODS dynamic typing,
/root/reference/etl/etl_ida.py:351-359), and doubles survive because
both writers emit shortest-round-trip representations.

Scale notes: text scans are splittable uncompressed (one task per
split); the quarantine audit is folded into the single aggregate pass
(no cache, no double read); production lands text at the ingest
boundary and converts to parquet immediately.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import register
from ..sources.tables import table
from .scale_ops import _scratch_dir

_EVENT_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)

_ORACLE = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
           CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '__quarantined__', 2, 0, 0.0, 0
"""


def _wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )


def _summarize(parsed: DataFrame) -> DataFrame:
    """ONE conditional-aggregate pass over the parsed frame: clean rows
    group under their event_type, quarantined rows under a synthetic
    '__quarantined__' type (PERMISSIVE may partially parse a corrupt
    row's fields, so every value aggregate is guarded on the corrupt
    marker).  Single scan, no cache: splitting clean from quarantined
    rows into two frames would read the input twice, or pin a cache of
    the whole table."""
    from ..sources.text_formats import CORRUPT_COL

    quarantined = F.col(CORRUPT_COL).isNotNull()
    label = F.when(quarantined, "__quarantined__").otherwise(
        F.col("event_type")
    )
    return parsed.groupBy(label.alias("event_type")).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct(
            F.when(~quarantined, F.col("user_id"))
        ).alias("n_users"),
        F.coalesce(
            F.sum(
                F.when(~quarantined, F.col("value")).cast("decimal(38,6)")
            ).cast("double"),
            F.lit(0.0),
        ).alias("total_value"),
        F.coalesce(
            F.max(F.when(~quarantined, F.col("ts_us"))), F.lit(0).cast("long")
        ).alias("max_ts_us"),
    )


def _inject_garbage(path: str, lines: list[str]) -> None:
    with open(os.path.join(path, "zz-malformed.json"), "w") as fh:
        fh.write("\n".join(lines) + "\n")


@register("xio1_jsonl_roundtrip", _ORACLE)
def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> JSONL sink -> JSONL scan (explicit schema, PERMISSIVE)
    -> quarantine split -> per-type aggregate.  Two garbage lines are
    injected into the landed directory; they must surface as exactly the
    '__quarantined__' audit row, never a job failure — the reference's
    skip-and-log cell posture (etl/etl_ida.py:374-375) at file scale."""
    from ..sources.text_formats import read_jsonl, write_jsonl

    out = _scratch_dir("jsonl_rt", sf_dir) + "/events_jsonl"
    write_jsonl(_wire(spark, sf_dir), out)
    _inject_garbage(out, ['{"event_id": broken', "not json at all"])
    # drop any stale cached/relisted state a previous same-session run
    # left on this path: the overwrite above triggers
    # CacheManager.recacheByPath BEFORE the garbage landed (round-5 gate
    # caught the second run reporting 0 quarantined rows)
    spark.catalog.refreshByPath(out)

    return _summarize(read_jsonl(spark, out, _EVENT_WIRE_SCHEMA))


@register("xio2_csv_roundtrip", _ORACLE)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as xio1 over the CSV sink/scan (header, explicit
    schema, PERMISSIVE quarantine) — proving the CSV writer/reader pair
    round-trips longs and doubles losslessly too."""
    from ..sources.text_formats import read_csv, write_csv

    out = _scratch_dir("csv_rt", sf_dir) + "/events_csv"
    write_csv(_wire(spark, sf_dir), out)
    with open(os.path.join(out, "zz-malformed.csv"), "w") as fh:
        # first line is consumed as this file's header (header=true is
        # per-file); the two lines after it are the injected garbage
        fh.write(
            "event_id,ts_us,user_id,event_type,value\n"
            "one,two\n"
            "not_a_long,xx,yy,zz,0.0\n"
        )
    spark.catalog.refreshByPath(out)  # see xio1: drop any stale recache

    return _summarize(read_csv(spark, out, _EVENT_WIRE_SCHEMA))


@register(
    "xio3_schema_evolution_merge",
    """
    SELECT CASE WHEN event_id % 2 = 0 THEN '__pre_evolution__'
                ELSE event_type END AS event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COALESCE(SUM(CASE WHEN event_id % 2 = 1
                                  THEN CAST(value AS DECIMAL(38,6)) END),
                         0) AS DOUBLE) AS total_value
    FROM events GROUP BY 1
    """,
)
def schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution round-trip: half the events land under a LEGACY
    3-column schema (event_id, ts_us, user_id), half under the evolved
    5-column one; a single mergeSchema read reconciles both vintages
    (added columns surface as NULL on legacy files — parquet's
    schema-on-read widening), and one aggregate audits each vintage.

    The oracle recomputes the same split relationally, so parity proves
    the merged read is LOSSLESS: no row lost to the schema gap, evolved
    columns aggregate only over files that physically carry them.
    100 TB: schema evolution by rewrite is a full-table pass; evolution
    by mergeSchema-read is free at write time and costs one footer per
    file at planning — this is why production corpora append vintages
    instead of rewriting (the reference's pandas ETL re-derives the
    whole frame per run — the posture this replaces).
    recursiveFileLookup keeps the vintage dirs out of partition
    discovery."""
    root = _scratch_dir("schevo", sf_dir) + "/events_vintages"
    wire = _wire(spark, sf_dir)
    wire.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "ts_us", "user_id"
    ).write.mode("overwrite").parquet(root + "/legacy")
    wire.filter(F.col("event_id") % 2 == 1).write.mode("overwrite").parquet(
        root + "/current"
    )
    spark.catalog.refreshByPath(root)

    merged = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(root)
    )
    return merged.groupBy(
        F.coalesce(F.col("event_type"), F.lit("__pre_evolution__")).alias(
            "event_type"
        )
    ).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        F.coalesce(
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double"),
            F.lit(0.0),
        ).alias("total_value"),
    )
