"""Pin the two band-attach forms of the sketch-band core and the q9
predicate fold.

``ranking._sketch_band`` (behind grouped_quantiles_band and
order_statistic_tuples) attaches its build-time band rows in one of two
physical forms, chosen by one predicate on the band row count:
- literal path (<= 64 band rows, and always with no group keys): band
  columns inlined as null-safe when-chains of literals — every registry
  caller takes this path;
- broadcast-join path (> 64 groups): the band frame materialized and
  attached by a null-safe LEFT broadcast join, the 100 TB form for
  high-cardinality grouping.

Because no registry query exercises the join path, these tests are
what keeps it correct: both paths must equal Spark's exact
``percentile`` on the same data, including the small-group regime
(n < 2·accuracy → whole-domain band), NULL group keys, and groups whose
values are all NULL (kept, with a NULL quantile).  The staleness tests
pin the one runtime guard against a source mutated after the build.

q9's partsupp arm collapsed from a join against the synthesized table to
an OR-of-4 membership predicate + inline supplycost expression; the
equivalence test here is the guard on that algebra (the oracle pins the
end-to-end result, but this pins the step that makes it fast).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def _exact(spark, df, group_col, value_col, q):
    """Naive exact quantile_cont per group via Spark's percentile."""
    return {
        r[group_col]: r["p"]
        for r in df.groupBy(group_col)
        .agg(F.expr(f"percentile({value_col}, {q})").alias("p"))
        .collect()
    }


def _band(spark, df, group_col, value_col, q, accuracy=200):
    from ida_dataengineerproject_spark.operators.ranking import (
        grouped_quantiles_band,
    )

    out = grouped_quantiles_band(
        df, value_col, [group_col], {"qq": q}, accuracy=accuracy
    )
    return {r[group_col]: r["qq"] for r in out.collect()}


def _mkdf(spark, n_groups, rows_per_group, seed=7):
    # deterministic pseudo-random values without Python-side RNG state
    rows = [
        (g, float((g * 9973 + i * seed * 31 + (g * i) % 997) % 10007) / 7.0)
        for g in range(n_groups)
        for i in range(rows_per_group)
    ]
    return spark.createDataFrame(rows, "g int, v double")


def test_literal_path_matches_exact_percentile(spark):
    df = _mkdf(spark, 5, 300)  # 5 groups -> literal path
    got = _band(spark, df, "g", "v", 0.5)
    want = _exact(spark, df, "g", "v", 0.5)
    assert got.keys() == want.keys()
    for k in want:
        assert math.isclose(got[k], want[k], rel_tol=0, abs_tol=1e-9), k


def test_join_fallback_path_matches_exact_percentile(spark):
    df = _mkdf(spark, 80, 60)  # 80 groups -> broadcast-join fallback
    got = _band(spark, df, "g", "v", 0.9)
    want = _exact(spark, df, "g", "v", 0.9)
    assert got.keys() == want.keys()
    for k in want:
        assert math.isclose(got[k], want[k], rel_tol=0, abs_tol=1e-9), k


def test_both_paths_agree_small_group_regime(spark):
    # n < 2*accuracy per group -> whole-domain band in both forms
    df = _mkdf(spark, 3, 40)
    lit_path = _band(spark, df, "g", "v", 0.25, accuracy=200)
    want = _exact(spark, df, "g", "v", 0.25)
    for k in want:
        assert math.isclose(lit_path[k], want[k], abs_tol=1e-9), k


def test_literal_path_null_group_key(spark):
    rows = [(None, float(i)) for i in range(100)] + [
        (1, float(i * 3)) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "g int, v double")
    got = _band(spark, df, "g", "v", 0.5, accuracy=200)
    want = _exact(spark, df, "g", "v", 0.5)
    assert got.keys() == want.keys()  # NULL key survives (eqNullSafe)
    for k in want:
        assert math.isclose(got[k], want[k], abs_tol=1e-9), k


def test_fallback_path_null_group_key(spark):
    """>64 groups forces the broadcast-join path; a NULL group key must
    survive it exactly as it survives the literal path (r10 fix: the
    band-attach join is eqNullSafe, not a plain equi-join that would
    silently drop the NULL group)."""
    rows = [(None, float(i)) for i in range(100)]
    for g in range(80):  # 81 groups total > 64 → join path
        rows += [(g, float((g * 37 + i * 13) % 500)) for i in range(40)]
    df = spark.createDataFrame(rows, "g int, v double")
    got = _band(spark, df, "g", "v", 0.5, accuracy=200)
    want = _exact(spark, df, "g", "v", 0.5)
    assert got.keys() == want.keys()  # NULL key survives on BOTH paths
    assert None in got
    for k in want:
        assert math.isclose(got[k], want[k], abs_tol=1e-9), k


def test_no_group_keys_empty_and_all_null_give_null_row(spark):
    """With no group keys, an empty frame and an all-NULL value column
    each give the single NULL row SQL ``percentile`` gives.  The guard
    compares the NULL checksum of "no values" null-safely, so neither
    case is mistaken for a source that changed since the build."""
    from ida_dataengineerproject_spark.operators.ranking import (
        grouped_quantiles_band,
    )

    frames = {
        "empty": spark.createDataFrame([], "v double"),
        "all_null": spark.createDataFrame([(None,)] * 5, "v double"),
    }
    for label, df in frames.items():
        want = [
            tuple(r)
            for r in df.agg(F.expr("percentile(v, 0.5)").alias("med")).collect()
        ]
        got = [
            tuple(r)
            for r in grouped_quantiles_band(df, "v", [], {"med": 0.5}).collect()
        ]
        assert got == want == [(None,)], label


def test_all_null_group_kept_on_both_paths(spark):
    """A group whose values are all NULL keeps its row with a NULL
    quantile, as ``percentile(v, q) GROUP BY g`` keeps it — on the
    literal path (5 groups) and on the broadcast-join path (81)."""
    for n_groups in (5, 81):
        rows = [(0, None)] * 30 + [
            (g, float((g * 37 + i * 13) % 500))
            for g in range(1, n_groups)
            for i in range(40)
        ]
        df = spark.createDataFrame(rows, "g int, v double")
        got = _band(spark, df, "g", "v", 0.5, accuracy=200)
        want = _exact(spark, df, "g", "v", 0.5)
        assert got.keys() == want.keys(), n_groups
        assert got[0] is None and want[0] is None
        for k in want.keys() - {0}:
            assert math.isclose(got[k], want[k], abs_tol=1e-9), (n_groups, k)


def test_q9_membership_predicate_equals_partsupp_join(spark):
    """∃i∈0..3: l_suppkey=(l_partkey·7+i) mod S  ⇔  inner-join hit on the
    synthesized partsupp — and the inline supplycost equals the joined
    column on every surviving row."""
    from ida_dataengineerproject_spark.queries.tpch_partsupp import (
        synth_partsupp,
    )
    from ida_dataengineerproject_spark.sources.tables import table

    sf = "/root/testdata/sf0.001"
    li = table(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    ps = synth_partsupp(spark, sf)
    joined = (
        li.join(
            ps,
            (li.l_partkey == ps.ps_partkey)
            & (li.l_suppkey == ps.ps_suppkey),
        )
        .select("l_partkey", "l_suppkey", "ps_supplycost")
        .orderBy("l_partkey", "l_suppkey")
        .collect()
    )
    s_cnt = table(spark, sf, "supplier").agg(F.count("*").alias("__S"))
    pk, sk = F.col("l_partkey"), F.col("l_suppkey")
    pred = None
    for i in range(4):
        term = sk == F.pmod(pk * 7 + i, F.col("__S"))
        pred = term if pred is None else (pred | term)
    cost = (
        (F.pmod(pk * 31 + sk * 7919, F.lit(99900)) + F.lit(100)) / 100.0
    ).alias("ps_supplycost")
    folded = (
        li.crossJoin(F.broadcast(s_cnt))
        .filter(pred)
        .select("l_partkey", "l_suppkey", cost)
        .orderBy("l_partkey", "l_suppkey")
        .collect()
    )
    assert len(joined) > 0  # the guard is vacuous on an empty survivor set
    assert [tuple(r) for r in joined] == [tuple(r) for r in folded]


def test_stale_snapshot_execution_fails_loudly(spark, tmp_path):
    """r11 (ADVICE r10): grouped_quantiles_band snapshots band bounds at
    plan-build time; executing that plan after the source mutated must
    FAIL (assert_true on live-vs-snapshot group counts), never return
    silently wrong quantiles.  A catalog table re-lists files per
    action, so an INSERT between build and re-execution is exactly the
    mutation the guard exists for."""
    import pytest

    from ida_dataengineerproject_spark.operators.ranking import (
        grouped_quantiles_band,
    )

    spark.sql("DROP TABLE IF EXISTS band_stale_t")
    _mkdf(spark, 3, 50).write.option(
        "path", str(tmp_path / "band_stale_t")
    ).saveAsTable("band_stale_t")
    try:
        src = spark.table("band_stale_t")
        plan = grouped_quantiles_band(src, "v", ["g"], {"med": 0.5})
        assert plan.count() == 3  # fresh plan executes fine

        _mkdf(spark, 3, 7, seed=11).write.insertInto("band_stale_t")
        with pytest.raises(Exception, match="source changed since"):
            plan.collect()

        # a REBUILT plan over the mutated table succeeds again
        fresh = grouped_quantiles_band(
            spark.table("band_stale_t"), "v", ["g"], {"med": 0.5}
        )
        assert fresh.count() == 3
    finally:
        spark.sql("DROP TABLE IF EXISTS band_stale_t")


def test_stale_new_group_fails_loudly_literal_path(spark, tmp_path):
    """r12 (VERDICT r11 #7): a wholly NEW group appearing after plan
    build must fail the literal-path plan loudly — its rows match no
    when-chain branch, so the snapshot count is NULL and the guard's
    assert_true(NULL) throws (never a silent NULL band row)."""
    import pytest

    from ida_dataengineerproject_spark.operators.ranking import (
        grouped_quantiles_band,
    )

    spark.sql("DROP TABLE IF EXISTS band_newg_t")
    _mkdf(spark, 3, 50).write.option(
        "path", str(tmp_path / "band_newg_t")
    ).saveAsTable("band_newg_t")
    try:
        plan = grouped_quantiles_band(
            spark.table("band_newg_t"), "v", ["g"], {"med": 0.5}
        )
        assert plan.count() == 3

        # rows for group 99 only — no existing group's count changes
        spark.createDataFrame(
            [(99, float(i)) for i in range(20)], "g int, v double"
        ).write.insertInto("band_newg_t")
        with pytest.raises(Exception, match="source changed since"):
            plan.collect()
    finally:
        spark.sql("DROP TABLE IF EXISTS band_newg_t")


def test_stale_new_group_fails_loudly_fallback_path(spark, tmp_path):
    """r12 (ADVICE r11): same new-group mutation on the >64-group
    broadcast-join path — the band attach is a LEFT join from live
    rows, so the new group reaches the guard with NULL snapshots and
    throws (the old inner join silently dropped it)."""
    import pytest

    from ida_dataengineerproject_spark.operators.ranking import (
        grouped_quantiles_band,
    )

    spark.sql("DROP TABLE IF EXISTS band_newg_fb_t")
    _mkdf(spark, 80, 20).write.option(
        "path", str(tmp_path / "band_newg_fb_t")
    ).saveAsTable("band_newg_fb_t")
    try:
        plan = grouped_quantiles_band(
            spark.table("band_newg_fb_t"), "v", ["g"], {"med": 0.5}
        )
        assert plan.count() == 80

        spark.createDataFrame(
            [(999, float(i)) for i in range(20)], "g int, v double"
        ).write.insertInto("band_newg_fb_t")
        with pytest.raises(Exception, match="source changed since"):
            plan.collect()
    finally:
        spark.sql("DROP TABLE IF EXISTS band_newg_fb_t")


def test_stale_equal_count_substitution_fails_loudly(spark, tmp_path):
    """r12 (ADVICE r11): replacing one in-group value with another keeps
    the live count equal to the snapshot — the count-only r11 guard
    passed it silently.  The value checksum (bit_xor of xxhash64)
    catches it."""
    import pytest

    from ida_dataengineerproject_spark.operators.ranking import (
        grouped_quantiles_band,
    )

    import pyarrow as pa
    import pyarrow.parquet as pq

    # one group, values 0..49; the substitution swaps the data FILE in
    # place with one of identical byte length (same schema/row count,
    # one value changed) — the file index snapshot cannot notice, which
    # is exactly the mutation only a value checksum catches
    d = tmp_path / "band_subst_p"
    d.mkdir()
    f = str(d / "part-0.parquet")
    pq.write_table(
        pa.table({"g": [1] * 50, "v": [float(i) for i in range(50)]}), f
    )
    swapped = pa.table(
        {"g": [1] * 50, "v": [float(i) if i != 49 else 1e6 for i in range(50)]}
    )
    plan = grouped_quantiles_band(
        spark.read.parquet(str(d)), "v", ["g"], {"med": 0.5}
    )
    assert plan.count() == 1

    pq.write_table(swapped, f)
    with pytest.raises(Exception, match="source changed since"):
        plan.collect()


def test_stale_snapshot_order_statistics_fail_loudly(spark, tmp_path):
    """Same r11 guard for order_statistic_tuples: its snapshot inlines n
    and every rank target as literals, so a mutated source must fail the
    job, not silently mis-rank."""
    import pytest

    from ida_dataengineerproject_spark.operators.ranking import (
        order_statistic_tuples,
    )

    spark.sql("DROP TABLE IF EXISTS ost_stale_t")
    _mkdf(spark, 1, 300).write.option(
        "path", str(tmp_path / "ost_stale_t")
    ).saveAsTable("ost_stale_t")
    try:
        src = spark.table("ost_stale_t").withColumn(
            "tb", F.monotonically_increasing_id()
        )
        plan = order_statistic_tuples(src, ["v"], "tb", {"t1": (1, 3)})
        assert plan.count() == 1

        _mkdf(spark, 1, 30, seed=13).write.insertInto("ost_stale_t")
        with pytest.raises(Exception, match="source changed since"):
            plan.collect()
    finally:
        spark.sql("DROP TABLE IF EXISTS ost_stale_t")


def test_stale_substitution_order_statistics_fails_loudly(spark, tmp_path):
    """r12: equal-count value substitution against order_statistic_tuples
    — count-equal, value-changed via a same-size in-place file swap; the
    per-dimension checksum must fail the job."""
    import pytest

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ida_dataengineerproject_spark.operators.ranking import (
        order_statistic_tuples,
    )

    d = tmp_path / "ost_subst_p"
    d.mkdir()
    f = str(d / "part-0.parquet")
    pq.write_table(
        pa.table(
            {
                "v": [float(i) for i in range(300)],
                "tb": list(range(300)),
            }
        ),
        f,
    )
    plan = order_statistic_tuples(
        spark.read.parquet(str(d)), ["v"], "tb", {"t1": (1, 3)}
    )
    assert plan.count() == 1

    pq.write_table(
        pa.table(
            {
                "v": [float(i) if i != 250 else -5.0 for i in range(300)],
                "tb": list(range(300)),
            }
        ),
        f,
    )
    with pytest.raises(Exception, match="source changed since"):
        plan.collect()
