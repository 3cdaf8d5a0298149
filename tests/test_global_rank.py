"""Contract tests for operators/ranking.global_rank.

The bucketed two-level rank must equal the naive single-partition
window rank exactly, for any bucketing — including the degenerate
constant-column case where every row shares one bucket.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ida_dataengineerproject_spark.operators.ranking import global_rank
from ida_dataengineerproject_spark.sources.tables import table

from .conftest import assert_bounded_single_partition_exchanges

SF = "/root/testdata/sf0.001"


def _naive(df, value_col, tiebreaks):
    w = Window.orderBy(value_col, *tiebreaks)
    return df.withColumn("rank", F.row_number().over(w))


def test_equals_naive_window_rank(spark):
    rev = (
        table(spark, SF, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").cast("long").alias("v"))
    )
    got = {
        r["o_custkey"]: r["rank"]
        for r in global_rank(rev, "v", ["o_custkey"]).collect()
    }
    want = {
        r["o_custkey"]: r["rank"]
        for r in _naive(rev, "v", ["o_custkey"]).collect()
    }
    assert got == want
    n = len(want)
    assert sorted(got.values()) == list(range(1, n + 1))


def test_constant_column_degenerates_to_one_bucket(spark):
    df = spark.createDataFrame(
        [(i, 42) for i in range(100)], ["id", "v"]
    )
    got = {
        r["id"]: r["rank"] for r in global_rank(df, "v", ["id"]).collect()
    }
    # all values equal -> rank follows the tiebreak alone
    assert got == {i: i + 1 for i in range(100)}


def test_heavy_skew_still_exact(spark):
    # 90% of rows share one hot value; boundaries collapse around it
    rows = [(i, 7) for i in range(900)] + [(900 + i, i) for i in range(100)]
    df = spark.createDataFrame(rows, ["id", "v"])
    got = global_rank(df, "v", ["id"]).collect()
    want = {r["id"]: r["rank"] for r in _naive(df, "v", ["id"]).collect()}
    assert {r["id"]: r["rank"] for r in got} == want


def test_only_bounded_single_partition_exchange(spark):
    """Every single-partition exchange in the executed plan sits directly
    on an aggregate with bounded output: the keyless partial min/max of
    the bucket probe (one row per map partition) or the per-bucket counts
    the offset cumsum runs over (<= n_buckets rows) — never on raw rows."""
    rev = (
        table(spark, SF, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").cast("long").alias("v"))
    )
    df = global_rank(rev, "v", ["o_custkey"])
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert assert_bounded_single_partition_exchanges(plan) >= 1, plan


def test_wide_long_range_spreads_over_buckets(spark):
    """xxhash64 keys span nearly the whole long range, so max - min
    exceeds 2^63: bin arithmetic in the column's own type wraps (ANSI is
    off) and put every row in one bucket — one in-bucket window task
    over the whole table.  The bins must spread, and ranks stay exact."""
    from ida_dataengineerproject_spark.operators.ranking import _with_buckets

    df = spark.range(1000).select("id", F.xxhash64("id").alias("v"))
    sizes = [
        r["count"]
        for r in _with_buckets(df, "v", 32).groupBy("__bucket").count().collect()
    ]
    assert len(sizes) > 1 and max(sizes) < 100, sorted(sizes)
    got = {r["id"]: r["rank"] for r in global_rank(df, "v", ["id"]).collect()}
    want = {r["id"]: r["rank"] for r in _naive(df, "v", ["id"]).collect()}
    assert got == want


def test_building_ranking_plans_launches_no_job(spark):
    """The bucket probe runs inside the returned plan: building a ranking
    operator over a lazy input launches no Spark job (an eager
    approxQuantile boundary probe used to run one per call)."""
    from ida_dataengineerproject_spark.operators.ranking import (
        global_prefix_max,
        weighted_quantile_crossing,
    )

    df = spark.range(1000).select(
        "id", (F.col("id") * 7 % 101).alias("v"), (F.col("id") % 3).alias("g")
    )
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = scheduler.nextJobId()
    global_rank(df, "v", ["id"])
    global_rank(df, "v", ["id"], group_cols=["g"])
    global_prefix_max(df, "v", "id", ["id"])
    weighted_quantile_crossing(df, "v", "id")
    assert scheduler.nextJobId() == before


def test_building_band_plans_stays_in_job_budget(spark):
    """The sketch-band operators run their band collect while building
    (the snapshot contract); that budget must not grow.  Both paths:
    the collect plus its AQE shuffle stage (2 jobs); the >64-group path
    attaches the collected rows, so it scans no second time.  The
    keyless order_statistic_tuples takes the literal path (2)."""
    from ida_dataengineerproject_spark.operators.ranking import (
        grouped_quantiles_band,
        order_statistic_tuples,
    )

    df = spark.range(1000).select(
        "id",
        (F.col("id") * 7 % 101).cast("double").alias("v"),
        (F.col("id") % 5).alias("g5"),
        (F.col("id") % 81).alias("g81"),
    )
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()

    def jobs(build):
        before = scheduler.nextJobId()
        build()
        return scheduler.nextJobId() - before

    assert jobs(lambda: grouped_quantiles_band(df, "v", ["g5"], {"m": 0.5})) <= 2
    assert jobs(lambda: grouped_quantiles_band(df, "v", ["g81"], {"m": 0.5})) <= 2
    assert jobs(lambda: order_statistic_tuples(df, ["v"], "id", {"t": (1, 3)})) <= 2


def test_null_values_rank_first_not_dropped(spark):
    """ADVICE r5: NULL value_col rows were silently dropped (NULL bucket
    id fails the offsets join).  They must rank FIRST, matching the
    naive window's NULLS FIRST default."""
    df = spark.createDataFrame(
        [(i, None if i % 7 == 0 else float(i * 3 % 50)) for i in range(200)],
        "id long, v double",
    )
    got = {
        (r["id"], r["rank"])
        for r in global_rank(df, "v", ["id"]).collect()
    }
    want = {
        (r["id"], r["rank"]) for r in _naive(df, "v", ["id"]).collect()
    }
    assert got == want  # same cardinality AND same ranks


def test_grouped_rank_equals_naive_partitioned_window(spark):
    df = spark.createDataFrame(
        [(i % 4, float((i * 7) % 23), i) for i in range(300)],
        "g int, v double, id long",
    )
    got = {
        (r["g"], r["id"], r["rank"])
        for r in global_rank(
            df, "v", ["id"], group_cols=["g"]
        ).collect()
    }
    w = Window.partitionBy("g").orderBy("v", "id")
    want = {
        (r["g"], r["id"], r["rank"])
        for r in df.withColumn("rank", F.row_number().over(w)).collect()
    }
    assert got == want


def test_exact_percentiles_plan_has_no_group_buffer(spark):
    """VERDICT r5 #3: exact_median_percentiles must not buffer a whole
    group in one percentile() aggregation buffer, and every window must
    carry a partition spec (parallel or bounded input)."""
    from ida_dataengineerproject_spark.queries.extras import q_percentiles

    df = q_percentiles(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "percentile(" not in plan
    for line in plan.splitlines():
        if "Window [" in line:
            assert "windowspecdefinition(" in line
            # both windows are partitioned: row-rank by (group, bucket),
            # offsets by group over ≤ groups×buckets count rows
            assert "l_returnflag" in line


def test_weighted_quantile_crossing_matches_naive_and_handles_ties(spark):
    from ida_dataengineerproject_spark.operators.ranking import (
        weighted_quantile_crossing,
    )

    # duplicate values across rows on purpose: crossing MIN must be
    # tie-order invariant without pre-aggregation
    df = spark.createDataFrame(
        [(float((i * 7) % 40), (i % 5) + 1) for i in range(500)],
        "v double, w long",
    )
    got = weighted_quantile_crossing(df, "v", "w").collect()[0]
    rows = sorted((r["v"], r["w"]) for r in df.collect())
    total = sum(w for _, w in rows)
    cum = 0
    naive_m = None
    for v, w in rows:
        cum += w
        if 2 * cum >= total:
            naive_m = v
            break
    assert got["weighted_median"] == naive_m
    assert got["w_total"] == total


def test_weighted_median_crossing_semantics(spark):
    from ida_dataengineerproject_spark.operators.ranking import (
        weighted_quantile_crossing,
    )

    # weights 1,1,8 over values 10,20,30: half the total is 5, and the
    # first value whose cumulative weight (1,2,10) reaches it is 30
    df = spark.createDataFrame(
        [(10.0, 1), (20.0, 1), (30.0, 8)], "v double, w long"
    )
    got = weighted_quantile_crossing(df, "v", "w").collect()[0]
    assert (got["weighted_median"], got["w_total"]) == (30.0, 10)


def test_global_prefix_max_equals_naive_window(spark):
    """Bucketed exclusive prefix max == the single-partition window it
    replaces, including NULL for the global first row and descending
    tiebreaks."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ida_dataengineerproject_spark.operators.ranking import (
        global_prefix_max,
    )

    rows = [
        (i, random.Random(i).randint(0, 40), random.Random(i * 13).randint(0, 999))
        for i in range(800)
    ]
    df = spark.createDataFrame(rows, "id long, o long, v long").withColumn(
        "negv", -F.col("v")
    )
    got = {
        r["id"]: r["pm"]
        for r in global_prefix_max(
            df, "o", "v", ["negv", "id"], out_col="pm"
        ).collect()
    }
    w = Window.orderBy("o", "negv", "id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    want = {
        r["id"]: r["pm"]
        for r in df.withColumn("pm", F.max("v").over(w)).collect()
    }
    assert got == want


def test_skyline_is_pareto_optimal(spark):
    """Every skyline point is undominated, and every non-skyline point
    IS dominated — checked against the full point set in Python."""
    from ida_dataengineerproject_spark.queries.allocation_ops import (
        q_pareto_skyline,
    )
    from ida_dataengineerproject_spark.queries.tpch_partsupp import (
        synth_partsupp,
    )
    from pyspark.sql import functions as F

    SF = "/root/testdata/sf0.001"
    pp = (
        synth_partsupp(spark, SF)
        .groupBy("ps_partkey")
        .agg(
            F.min("ps_supplycost").alias("cost"),
            F.sum("ps_availqty").alias("avail"),
        )
    )
    pts = {
        (round(r["cost"], 2), r["avail"])
        for r in pp.select("cost", "avail").distinct().collect()
    }
    sky = {
        (r["cost"], r["avail"])
        for r in q_pareto_skyline(spark, SF).collect()
    }
    def dominated(p, qs):
        return any(
            q[0] <= p[0] and q[1] >= p[1] and q != p for q in qs
        )
    for p in sky:
        assert not dominated(p, pts), p
    for p in pts - sky:
        assert dominated(p, pts), p


def test_grouped_quantiles_band_matches_percentile_both_regimes(spark):
    """Sketch-band exact quantiles == Spark's exact percentile, in the
    small-n whole-collect regime AND the sketch-band regime (accuracy
    forced below n/2), with duplicate values and NULLs in play."""
    from ida_dataengineerproject_spark.operators.ranking import (
        grouped_quantiles_band,
    )

    rows = []
    for g in ("a", "b"):
        for i in range(501):
            rows.append((g, float((i * 7) % 101)))  # heavy ties
        rows.append((g, None))
    df = spark.createDataFrame(rows, ["g", "v"])
    qs = {"p10": 0.1, "med": 0.5, "p90": 0.9}
    want = {
        r["g"]: (r["p10"], r["med"], r["p90"])
        for r in df.groupBy("g")
        .agg(
            *[
                F.expr(f"percentile(v, {q})").alias(n)
                for n, q in qs.items()
            ]
        )
        .collect()
    }
    for acc in (10000, 100):  # 1002 rows: whole-collect vs sketch band
        got = {
            r["g"]: (r["p10"], r["med"], r["p90"])
            for r in grouped_quantiles_band(
                df, "v", ["g"], qs, accuracy=acc
            ).collect()
        }
        assert got == want, f"accuracy={acc}"


def test_grouped_quantiles_matches_percentile_and_ignores_nulls(spark):
    from ida_dataengineerproject_spark.operators.ranking import (
        grouped_quantiles_band,
    )

    # three groups of ~121 non-null values, every 11th value NULL:
    # NULLs must be ignored, not ranked
    df = spark.createDataFrame(
        [
            (i % 3, None if i % 11 == 0 else float((i * 13) % 97))
            for i in range(400)
        ],
        "g int, v double",
    )
    qs = {"q25": 0.25, "q50": 0.5, "q90": 0.9}
    want = {
        (r["g"], round(r["p"][0], 9), round(r["p"][1], 9), round(r["p"][2], 9))
        for r in df.groupBy("g")
        .agg(F.expr("percentile(v, array(0.25, 0.5, 0.9))").alias("p"))
        .collect()
    }
    for acc in (10000, 50):  # whole-collect vs sketch band
        got = {
            (r["g"], round(r["q25"], 9), round(r["q50"], 9), round(r["q90"], 9))
            for r in grouped_quantiles_band(
                df, "v", ["g"], qs, accuracy=acc
            ).collect()
        }
        assert got == want, f"accuracy={acc}"


def test_order_statistic_tuples_match_naive_ranks(spark):
    """Boundary tuples equal the naive row_number scan at (n·k) div 3,
    per dimension, with value ties broken by the tiebreak column —
    both regimes."""
    from ida_dataengineerproject_spark.operators.ranking import (
        order_statistic_tuples,
    )

    rows = [(i, (i * 13) % 50, (i * 7) % 23) for i in range(700)]
    df = spark.createDataFrame(rows, ["ck", "x", "y"])
    cuts = {"b1": (1, 3), "b2": (2, 3)}
    naive = {}
    for dim in ("x", "y"):
        ordered = sorted(rows, key=lambda r: (r[{"x": 1, "y": 2}[dim]], r[0]))
        n = len(ordered)
        for name, (num, den) in cuts.items():
            t = (n * num) // den
            v, ck = (
                (None, None)
                if t == 0
                else (ordered[t - 1][{"x": 1, "y": 2}[dim]], ordered[t - 1][0])
            )
            naive[f"{dim}_{name}"] = (v, ck)
    for acc in (2000, 100):
        row = order_statistic_tuples(df, ["x", "y"], "ck", cuts, accuracy=acc).collect()[0]
        for key, (v, ck) in naive.items():
            tup = row[key]
            assert (tup["v"], tup["tb"]) == (v, ck), f"{key} accuracy={acc}"
