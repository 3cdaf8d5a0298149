"""Parquet table sources (the engine's scan layer, SURVEY.md §2.1).

The reference scans ODS spreadsheets via pandas (etl/etl_ida.py:215-235); our
distributed scan surface is parquet with Catalyst predicate pushdown + column
pruning.  Scale notes: `spark.read.parquet` on a directory of files gives
splittable, statistics-pruned scans; never `.collect()` a table to re-create
it — keep everything a lazy DataFrame so filters/projections reach the reader
(`.explain()` must show PushedFilters / a narrow ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TESTDATA_TABLES


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table. Lazy; pushdown-friendly.

    ``events.ts`` has shipped under three parquet encodings across testdata
    regenerations; all are normalized here — in ONE place — to Spark
    ``timestamp`` (microsecond, session-TZ, and the session TZ is pinned to
    UTC in session.harden) so every downstream consumer (sessionize, window
    aggs, as-of join) sees one type:

    * TIMESTAMP(NANOS) read as ``bigint`` (via ``nanosAsLong``): truncated
      to micros losslessly via integer division;
    * ``timestamp[us]`` without TZ, read as ``timestamp_ntz``: cast to
      ``timestamp`` — identical instants under the UTC session TZ;
    * ``timestamp[us]`` with UTC TZ: already ``timestamp``, no-op.

    DuckDB oracles truncate identically via
    ``make_timestamp(epoch_ns(ts)//1000)`` (idempotent on micros input).

    Memoized per (session, sf_dir, name): ``spark.read.parquet`` does
    driver-side footer/schema inference on every call (~0.15 s warm),
    which was the dominant fixed cost of every DataFrame-API query at
    small scale (the SQL API avoided it via the memoized views below).
    DataFrames are immutable and lazily planned, so handing every caller
    the same instance is safe; the cache lives on the session object and
    dies with it.  Testdata directories are immutable during a run — for
    mutable paths, use ``spark.read.parquet`` directly.
    """
    cache = getattr(spark, "_graft_table_cache", None)
    if cache is None:
        cache = {}
        spark._graft_table_cache = cache
    key = (sf_dir, name)
    if key in cache:
        return cache[key]
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    cache[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All testdata tables as lazy DataFrames keyed by name."""
    return {name: table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql() paths.

    Memoized per (session, sf_dir): re-registration re-reads 10 parquet
    footers on the driver (~1 s warm), pure overhead when the views
    already point at the same directory.  Switching sf_dir re-registers.
    """
    key = "spark_graft.registered_sf_dir"
    if spark.conf.get(key, None) == sf_dir:
        return
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
    spark.conf.set(key, sf_dir)
