from __future__ import annotations

import re
import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    from ida_dataengineerproject_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    yield con
    con.close()


def assert_bounded_single_partition_exchanges(plan: str) -> int:
    """Every ``Exchange SinglePartition`` node of an executed-plan tree
    string sits directly on an aggregate with bounded output: the keyless
    partial min/max of the ranking bucket probe (one row per map
    partition) or a count keyed by ``__bucket`` (<= n_buckets rows) —
    never on raw rows.  Returns the number of such exchanges."""
    lines = plan.splitlines()
    node = r"^[\s:|+-]*(?:\*\(\d+\) )?"
    found = 0
    for line, child in zip(lines, lines[1:]):
        if not re.match(node + "Exchange SinglePartition", line):
            continue
        found += 1
        agg = re.match(
            node + r"HashAggregate\(keys=\[(.*?)\], functions=\[(.*?)\]",
            child,
        )
        assert agg, (line, child)
        keys, fns = agg.groups()
        probe = keys == "" and re.fullmatch(
            r"partial_min\(\S+\), partial_max\(\S+\)", fns
        )
        assert probe or keys.startswith("__bucket#"), (line, child)
    return found


def assert_parity(spark_df, duck_con, sql: str):
    """Mirror the driver's check: row count + sorted columns + sorted values."""
    sys.path.insert(0, str(REPO / "tools"))
    from parity import normalize

    sdf = spark_df.toPandas()
    odf = duck_con.execute(sql).fetchdf()
    scols, svals = normalize(sdf)
    ocols, ovals = normalize(odf)
    assert scols == ocols, f"schema: {scols} != {ocols}"
    assert len(svals) == len(ovals), f"rows: {len(svals)} != {len(ovals)}"
    assert svals == ovals
