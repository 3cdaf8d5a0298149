"""Catalog bootstrap + health check (reference op07/op08).

The reference drops/recreates a PostgreSQL database and executes
schema_star.sql (init_db.py:59-108); health is probed with
``SELECT 1 FROM ida.{table} LIMIT 1`` (etl_ida.py:630-651).  The Spark
equivalents are catalog registrations + limit(1) probes — no SQL-string
splitting, no connection pool.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..sources.tables import load_tables


def bootstrap_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every testdata table as a temp view (the engine's
    'CREATE DATABASE + DDL' analog, init_db.py:71-100)."""
    names = []
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
        names.append(name)
    return names


def health_check(spark: SparkSession, tables: list[str]) -> dict[str, bool]:
    """op08 (etl_ida.py:630-651): every required table answers a
    limit(1) probe."""
    status: dict[str, bool] = {}
    for t in tables:
        try:
            ok = spark.catalog.tableExists(t) or t in [
                v.name for v in spark.catalog.listTables()
            ]
            if ok:
                spark.table(t).limit(1).collect()  # op42 LIMIT probe
            status[t] = ok
        except Exception:
            status[t] = False
    return status
