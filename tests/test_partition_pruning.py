"""Partition pruning on the persisted star: the fact table is written
partitioned by year (plans/etl.write_star), so a year predicate must show
up as a PartitionFilter on the scan and prune files — the Spark
equivalent of the reference's fact indexes (schema_star.sql:96-101)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def star_dir(spark, tmp_path_factory):
    from ida_dataengineerproject_spark.plans.etl import ingest, write_star
    from ida_dataengineerproject_spark.sources.converters import (
        normalize_wide,
    )

    # two years of data → two fact partitions
    sheet = pd.DataFrame(
        {
            "Grupo": ["CLARO S.A.", "TIM S.A."],
            "Variável": ["Taxa de Respondidas em 5 dias Úteis"] * 2,
            "2017-01": ["1,5", "2,5"],
            "2018-01": ["3", "4"],
        }
    )
    wide = spark.createDataFrame(normalize_wide(sheet, "SMP", "f.ods"))
    base = str(tmp_path_factory.mktemp("star"))
    write_star(ingest(spark, wide), base)
    return base


def test_year_filter_prunes_partitions(spark, star_dir):
    fact = spark.read.parquet(f"{star_dir}/fact_ida")
    q = fact.filter(F.col("ano") == 2017)
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    pf_line = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "ano" in pf_line and "2017" in pf_line  # pruned at partition level
    assert q.count() == 2  # only the 2017 rows


def test_join_strategy_hints(spark):
    """Join hints are honored: merge → SortMergeJoin even where broadcast
    would win; broadcast → BroadcastHashJoin on a large side."""
    from .conftest import SF_SMOKE
    from ida_dataengineerproject_spark.sources.tables import table

    li = table(spark, SF_SMOKE, "lineitem")
    o = table(spark, SF_SMOKE, "orders")

    merged = li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
    plan = merged._sc._jvm.PythonSQLUtils.explainString(
        merged._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin" in plan

    bcast = li.join(o.hint("broadcast"), li.l_orderkey == o.o_orderkey)
    plan_b = bcast._sc._jvm.PythonSQLUtils.explainString(
        bcast._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan_b
