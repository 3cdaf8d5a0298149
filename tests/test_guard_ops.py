"""Round-5b guard/maintenance operators: bloom membership prefilter,
event-rate anomaly gate, incremental rollup merge, segment dedup, and
TF-IDF rarity top-k — contract tests beyond the oracle parity check."""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from tests.conftest import SF_SMOKE


# ---------------------------------------------------------------- x14


def test_bloom_has_no_false_negatives_and_bounded_fps(spark):
    """Every true member passes the bloom stage (n_confirmed == exact
    membership count per month), and FP counts are non-negative slack."""
    from ida_dataengineerproject_spark.queries.guard_ops import (
        _REF_PRICE,
        bloom_membership_filter,
    )
    from ida_dataengineerproject_spark.sources.tables import table

    out = {
        r["mes"]: r for r in bloom_membership_filter(spark, SF_SMOKE).collect()
    }
    orders = table(spark, SF_SMOKE, "orders")
    li = table(spark, SF_SMOKE, "lineitem")
    refk = orders.filter(F.col("o_totalprice") > _REF_PRICE).select(
        F.col("o_orderkey").alias("k")
    )
    exact = {
        r["mes"]: r["n"]
        for r in li.join(refk, li.l_orderkey == refk.k, "left_semi")
        .groupBy(F.substring(F.col("l_shipdate").cast("string"), 1, 7).alias("mes"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert out, "no output rows"
    for mes, r in out.items():
        assert r["n_confirmed"] == exact.get(mes, 0), mes
        assert r["n_bloom_pass"] >= r["n_confirmed"], mes
        assert r["n_rows"] >= r["n_bloom_pass"], mes
    # at least one month must contain true members at this threshold
    assert sum(exact.values()) > 0


def test_bloom_probe_side_joins_are_all_broadcast(spark):
    """The probe (lineitem) side must reach the final aggregate through
    broadcast joins only — a sort-merge join would shuffle the full probe."""
    from ida_dataengineerproject_spark.queries.guard_ops import (
        bloom_membership_filter,
    )

    plan = bloom_membership_filter(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    # r9 bitmap form: the ONLY probe-side join left is the exact confirm
    # (broadcast); the three bloom probes are codegen bit arithmetic over
    # one broadcast-nested-loop-attached 1-row bitmap — no hash relation
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------- x15


def test_event_rate_anomaly_matches_numpy_median_mad(spark):
    """med_rate / mad equal numpy's exact medians of the minute counts
    (numpy also averages the two middle ranks), and abs_dev is consistent."""
    import numpy as np

    from ida_dataengineerproject_spark.queries.guard_ops import (
        event_rate_anomaly,
    )
    from ida_dataengineerproject_spark.sources.tables import table

    rows = event_rate_anomaly(spark, SF_SMOKE).collect()
    assert len(rows) == 10
    ev = table(spark, SF_SMOKE, "events")
    counts = np.array(
        [
            r["n"]
            for r in ev.groupBy(F.date_trunc("minute", F.col("ts")))
            .agg(F.count("*").alias("n"))
            .collect()
        ],
        dtype=np.float64,
    )
    med = float(np.median(counts))
    mad = float(np.median(np.abs(counts - med)))
    devs = sorted(np.abs(counts - med))[::-1]
    for r in rows:
        assert r["med_rate"] == med
        assert r["mad"] == mad
        assert r["abs_dev"] == abs(r["n_events"] - med)
        assert r["is_anomaly"] == (r["abs_dev"] > 3 * mad)
    # the returned rows are the 10 largest deviations
    assert sorted((r["abs_dev"] for r in rows), reverse=True) == devs[:10]


# ---------------------------------------------------------------- xs5


def test_incremental_merge_equals_full_recompute(spark):
    """Stored-partial + delta merge must reproduce the direct full
    aggregate exactly (counts, decimal sums, derived averages)."""
    from ida_dataengineerproject_spark.queries.guard_ops import (
        incremental_rollup_merge,
    )
    from ida_dataengineerproject_spark.sources.tables import table

    merged = {
        (r["mes"], r["o_orderstatus"]): r
        for r in incremental_rollup_merge(spark, SF_SMOKE).collect()
    }
    orders = table(spark, SF_SMOKE, "orders")
    full = {
        (r["mes"], r["o_orderstatus"]): r
        for r in orders.groupBy(
            F.substring(F.col("o_orderdate").cast("string"), 1, 7).alias("mes"),
            "o_orderstatus",
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .collect()
    }
    assert merged.keys() == full.keys()
    for k, r in merged.items():
        assert r["n_orders"] == full[k]["n_orders"], k
        assert r["total_price"] == full[k]["total_price"], k
        assert r["avg_price"] == full[k]["total_price"] / full[k]["n_orders"], k


# ---------------------------------------------------------------- xt17


def test_segment_dedup_conservation_and_global_uniqueness(spark):
    """n_segments == ceil(tokens / L) per doc; kept segments are globally
    unique across the corpus; text_clean is exactly the kept segments in
    original order."""
    from ida_dataengineerproject_spark.queries.guard_ops import (
        _SEG_LEN,
        segment_dedup,
    )
    from ida_dataengineerproject_spark.sources.tables import table

    out = segment_dedup(spark, SF_SMOKE).collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in table(spark, SF_SMOKE, "documents").collect()
    }
    assert len(out) == len(docs)

    def segments(text: str) -> list[str]:
        toks = text.strip().split()
        return [
            " ".join(toks[i : i + _SEG_LEN])
            for i in range(0, len(toks), _SEG_LEN)
        ]

    # corpus-wide distinct-doc frequency per segment, computed independently
    freq: dict[str, set[int]] = {}
    for did, text in docs.items():
        for s in segments(text):
            freq.setdefault(s, set()).add(did)

    dropped_any = False
    for r in out:
        segs = segments(docs[r["doc_id"]])
        assert r["n_segments"] == len(segs) == math.ceil(
            len(docs[r["doc_id"]].strip().split()) / _SEG_LEN
        )
        kept = [s for s in segs if len(freq[s]) == 1]
        assert r["n_kept"] == len(kept)
        assert r["text_clean"] == " ".join(kept)
        dropped_any |= r["n_kept"] < r["n_segments"]
    assert dropped_any, "test corpus produced no duplicate segments"


# ---------------------------------------------------------------- xt18


def test_tfidf_topk_contracts(spark):
    """Exactly <=5 rows per source with dense ranks 1..k, score descending,
    df consistent with an independent document-frequency count."""
    from ida_dataengineerproject_spark.queries.guard_ops import (
        tfidf_rarity_topk,
    )
    from ida_dataengineerproject_spark.sources.tables import table

    rows = tfidf_rarity_topk(spark, SF_SMOKE).collect()
    docs = table(spark, SF_SMOKE, "documents").collect()
    n_docs = len(docs)
    df_ind: dict[str, set[int]] = {}
    for r in docs:
        for t in set(r["text"].strip().split()):
            df_ind.setdefault(t, set()).add(r["doc_id"])

    by_source: dict[str, list] = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
    for source, rs in by_source.items():
        rs.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 5
        scores = [r["score"] for r in rs]
        assert scores == sorted(scores, reverse=True)
        for r in rs:
            assert r["df"] == len(df_ind[r["term"]])
            assert r["score"] == r["tf"] * n_docs / r["df"]


def test_scoped_conf_restores_and_surfaces_failures(spark):
    """scoped_conf must (a) restore an explicitly-set conf, (b) leave a
    never-set conf at its default, and (c) surface restore failures
    instead of silently leaking the scoped value — the exact leak the
    helper exists to prevent."""
    import pytest

    from ida_dataengineerproject_spark.session import scoped_conf

    k = "spark.sql.autoBroadcastJoinThreshold"
    spark.conf.set(k, "1048576")
    with scoped_conf(spark, {k: "-1"}):
        assert spark.conf.get(k) == "-1"
    assert spark.conf.get(k) == "1048576"
    spark.conf.unset(k)

    # never explicitly set → default surfaces again after the scope
    default = spark.conf.get(k)
    with scoped_conf(spark, {k: "-1"}):
        assert spark.conf.get(k) == "-1"
    assert spark.conf.get(k) == default

    class BrokenConf:
        def __init__(self):
            self._vals = {}

        def get(self, key):
            return self._vals.get(key, "old")

        def set(self, key, v):
            self._vals[key] = v

        def unset(self, key):
            raise RuntimeError("unset not supported")

    class FakeSpark:
        conf = BrokenConf()

    fake = FakeSpark()
    # restore falls back to set(prev) when unset fails → no error
    with scoped_conf(fake, {"some.key": "new"}):
        assert fake.conf.get("some.key") == "new"
    assert fake.conf.get("some.key") == "old"

    class FullyBroken(BrokenConf):
        def __init__(self):
            super().__init__()
            self._armed = False

        def set(self, key, v):
            if self._armed:
                raise RuntimeError("set rejected")
            self._vals[key] = v

    class FakeSpark2:
        conf = FullyBroken()

    fake2 = FakeSpark2()
    with pytest.raises(RuntimeError, match="scoped_conf restore failed"):
        with scoped_conf(fake2, {"some.key": "new"}):
            fake2.conf._armed = True


def test_run_concurrently_keeps_order_and_raises_first_failure(spark):
    """run_concurrently returns results in submission order; when
    targets fail it re-raises the first failure, after every target ran."""
    from functools import partial

    import pytest

    from ida_dataengineerproject_spark.session import run_concurrently

    assert run_concurrently(spark, [lambda i=i: i * i for i in range(5)]) == [
        0, 1, 4, 9, 16,
    ]
    assert run_concurrently(spark, []) == []
    ran = []

    def boom(msg):
        raise ValueError(msg)

    with pytest.raises(ValueError, match="first"):
        run_concurrently(
            spark,
            [partial(boom, "first"), lambda: ran.append(1), partial(boom, "second")],
        )
    assert ran == [1]


def test_bloom_bitmap_self_probe_and_bit_edges(spark):
    """Every position in the sparse table must pass the packed-bitmap
    probe — including bit 0 of a word whose bit 63 is ALSO set (the
    shifted word is then a negative long; Spark's % keeps the dividend
    sign, so a `% 2 == 1` test silently read the low bit as unset —
    r9-found, fixed with bitwiseAND)."""
    from pyspark.sql import functions as F

    from ida_dataengineerproject_spark.functions.hashing import (
        bloom_bitmap,
        bloom_bitmap_probe,
        bloom_positions,
    )

    # keys engineered so some word carries both bit 63 and low bits:
    # positions are CW-hash outputs, so just use enough keys to populate
    # densely (65536 positions / 3 hashes / 4000 keys ~ 18% fill)
    keys = spark.range(4000).select(F.col("id").alias("k"))
    pos = bloom_positions(keys, "k", 3, 65536)
    bm = bloom_bitmap(keys, "k", 3, 65536)
    chk = pos.crossJoin(F.broadcast(bm)).select(
        "pos", bloom_bitmap_probe(F.col("pos")).alias("hit")
    )
    misses = chk.filter(~F.col("hit")).count()
    assert misses == 0
    # and a non-member position set stays mostly unset (sanity)
    outside = spark.range(70000, 70100).select(
        (F.col("id") % 65536).alias("pos")
    )
    probe2 = outside.join(pos, "pos", "left_anti")  # true non-positions
    fp = (
        probe2.crossJoin(F.broadcast(bm))
        .select(bloom_bitmap_probe(F.col("pos")).alias("hit"))
        .filter("hit")
        .count()
    )
    assert fp == 0  # exact bit test: non-position bits are never set
