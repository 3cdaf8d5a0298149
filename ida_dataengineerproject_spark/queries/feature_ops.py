"""Feature-engineering operators for training-data pipelines (round 7).

Three ML-prep staples the registry lacked, each in the exact-arithmetic
oracle discipline:

- xq29_target_encoding — leave-one-out smoothed target encoding, THE
  standard categorical encoder for gradient-boosted models (the LOO form
  avoids target leakage; the smoothing prior m tames rare categories).
- xq30_winsorized_mean — per-group winsorized mean (clamp to [p05, p95]
  instead of dropping — the robust-stats sibling of the trimmed mean in
  queries/analytics_ops.q_robust_group_stats), bounds from
  operators/ranking.grouped_quantiles_band.
- x33_stratified_sample — deterministic stratified sampling with EXACT
  per-stratum counts (ceil(n·f)), keyed on a Carter-Wegman integer hash
  so both engines select the identical rows; the scale-safe replacement
  for ``df.sampleBy`` (which is Bernoulli — approximate counts, RNG
  seed semantics that differ across engines).

Reference scope: the reference pipeline stops at warehouse loading
(etl/etl_ida.py); these extend the driver-mandated training-data
surface (SURVEY.md §6 extension inventory).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import CW_PRIME, cw_bucket, cw_bucket_sql
from ..registry import register
from ..session import materialize
from ..sources.tables import table

_TE_M = 10  # smoothing prior weight (pseudo-observations of the global mean)


@register(
    "xq29_target_encoding",
    f"""
    WITH j AS (
        SELECT o_orderkey, c_mktsegment AS seg,
               CAST(o_totalprice AS DECIMAL(38,2)) AS p
        FROM orders JOIN customer ON c_custkey = o_custkey),
    s AS (
        SELECT seg, SUM(p) AS sp, CAST(COUNT(*) AS BIGINT) AS n
        FROM j GROUP BY seg),
    g AS (
        SELECT CAST(SUM(p) AS DOUBLE) / COUNT(*) AS gmean FROM j)
    SELECT j.o_orderkey, j.seg,
           ROUND((CAST(s.sp - j.p AS DOUBLE)
                  + CAST({_TE_M} AS DOUBLE) * g.gmean)
                 / (CAST(s.n - 1 AS DOUBLE) + CAST({_TE_M} AS DOUBLE)),
                 6) AS te
    FROM j JOIN s USING (seg), g
    """,
)
def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out smoothed target encoding of customer market segment
    against order value: te(row) = (Σ_seg − own + m·global_mean) /
    (n_seg − 1 + m) — each row's own target is excluded (no leakage)
    and m pseudo-observations of the global mean shrink rare segments
    toward the prior.

    Exactness: the per-segment and global sums accumulate in
    DECIMAL(38,2) (order-independent); ``Σ_seg − own`` is decimal
    subtraction, and the remaining expression is a short identical IEEE
    tree (one multiply, one add, one divide) on both engines, so the
    encodings hash-match bit-for-bit.

    Scale shape: one customer-keyed equi-join (co-partitioned at 100 TB),
    one segment-bounded aggregate broadcast back, one single-row global
    mean broadcast — the encoded fact never shuffles after the dim join.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(38,2)").alias("p"),
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg")
    )
    # three consumers (segment stats, global mean, encode) —
    # materialize the joined fact once (ADVICE r7 pattern)
    j = materialize(
        o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "seg", "p")
    )
    s = j.groupBy("seg").agg(
        F.sum("p").alias("sp"), F.count("*").alias("n")
    )
    g = j.agg(
        (F.sum("p").cast("double") / F.count("*")).alias("gmean")
    )
    m = F.lit(_TE_M).cast("double")
    return (
        j.join(F.broadcast(s), "seg")
        .crossJoin(F.broadcast(g))
        .select(
            "o_orderkey",
            "seg",
            F.round(
                ((F.col("sp") - F.col("p")).cast("double") + m * F.col("gmean"))
                / ((F.col("n") - 1).cast("double") + m),
                6,
            ).alias("te"),
        )
    )


@register(
    "xq30_winsorized_mean",
    """
    WITH q AS (
        SELECT o_orderpriority,
               quantile_cont(CAST(o_totalprice AS DOUBLE), 0.05) AS lo,
               quantile_cont(CAST(o_totalprice AS DOUBLE), 0.95) AS hi
        FROM orders GROUP BY o_orderpriority),
    t AS (
        SELECT o.o_orderpriority, q.lo, q.hi,
               CAST(o.o_totalprice AS DOUBLE) AS pd,
               CAST(o.o_totalprice AS DECIMAL(38,2)) AS p
        FROM orders o JOIN q USING (o_orderpriority))
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (WHERE pd <= lo) AS BIGINT) AS n_low,
           CAST(COUNT(*) FILTER (WHERE pd >= hi) AS BIGINT) AS n_high,
           ROUND(ANY_VALUE(lo), 4) AS p05,
           ROUND(ANY_VALUE(hi), 4) AS p95,
           ROUND((CAST(COALESCE(SUM(p) FILTER (WHERE pd > lo AND pd < hi),
                                CAST(0 AS DECIMAL(38,2))) AS DOUBLE)
                  + CAST(COUNT(*) FILTER (WHERE pd <= lo) AS DOUBLE)
                    * ANY_VALUE(lo)
                  + CAST(COUNT(*) FILTER (WHERE pd >= hi) AS DOUBLE)
                    * ANY_VALUE(hi))
                 / CAST(COUNT(*) AS DOUBLE), 4) AS winsorized_mean
    FROM t GROUP BY o_orderpriority
    """,
)
def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorized mean of order value: values below the 5th /
    above the 95th percentile are CLAMPED to those bounds (unlike the
    trimmed mean, which drops them) — the outlier treatment that keeps
    n constant, standard for heavy-tailed monetary features.

    Exactness without order-dependent float sums: winsorized total =
    Σ(mid values, exact DECIMAL) + n_low·p05 + n_high·p95 — the clamped
    tails contribute count × bound, so the only float products are two
    bounded terms and the mid mass stays decimal until one final cast.
    Tie policy: a value EQUAL to a bound is classified into the clamp
    bucket (clamping is the identity there, so the mean is unchanged —
    but both engines must bucket identically, hence <= / >=).

    Scale shape: quantile bounds per group come from
    operators/ranking.grouped_quantiles_band (sketch band + in-band
    confirm — two scans, zero windows, no eager probes; r9), broadcast
    back; the final pass is one map-side-combined conditional
    aggregate.  No window over data anywhere."""
    from ..operators.ranking import grouped_quantiles_band

    g = ["o_orderpriority"]
    o = table(spark, sf_dir, "orders").select(
        *g,
        F.col("o_totalprice").cast("double").alias("pd"),
        F.col("o_totalprice").cast("decimal(38,2)").alias("p"),
    )
    q = grouped_quantiles_band(
        o.select(*g, F.col("pd").alias("v")), "v", g,
        {"lo": 0.05, "hi": 0.95},
    )
    t = o.join(F.broadcast(q), g)
    lo, hi, pd = F.col("lo"), F.col("hi"), F.col("pd")
    zero = F.lit(0).cast("decimal(38,2)")
    return t.groupBy(*g).agg(
        F.count("*").alias("n"),
        F.sum((pd <= lo).cast("long")).alias("n_low"),
        F.sum((pd >= hi).cast("long")).alias("n_high"),
        F.round(F.first("lo"), 4).alias("p05"),
        F.round(F.first("hi"), 4).alias("p95"),
        F.round(
            (
                F.coalesce(
                    F.sum(F.when((pd > lo) & (pd < hi), F.col("p"))), zero
                ).cast("double")
                + F.sum((pd <= lo).cast("long")).cast("double") * F.first("lo")
                + F.sum((pd >= hi).cast("long")).cast("double") * F.first("hi")
            )
            / F.count("*").cast("double"),
            4,
        ).alias("winsorized_mean"),
    )


_SAMPLE_DEN = 10  # keep ceil(n/10) rows per stratum — exactly 10%


@register(
    "x33_stratified_sample",
    f"""
    WITH h AS (
        SELECT doc_id, lang,
               {cw_bucket_sql("doc_id", 1, CW_PRIME)} AS hk
        FROM documents),
    r AS (
        SELECT doc_id, lang, hk,
               row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id)
                 AS rk,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM h)
    SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk * {_SAMPLE_DEN} <= n + {_SAMPLE_DEN - 1}
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: EXACTLY ceil(n_g/10) documents
    per language stratum, selected by Carter-Wegman hash rank — the
    reproducible replacement for ``sampleBy`` (Bernoulli draws give
    binomial-noise counts and engine-specific RNG; hash-rank gives a
    fixed, auditable subset any engine reproduces bit-for-bit).

    Scale shape: the hash is two integer multiplies in codegen
    (functions/hashing.py CW family, property-tested cross-engine); the
    per-stratum rank is operators/ranking.global_rank with
    ``group_cols`` — two-level ranking over in-plan equal-width buckets
    (one min/max probe shared by every stratum) whose only
    unpartitioned steps merge the probe's per-partition partials and
    the (strata × buckets) bucket counts, never a
    per-stratum sort buffer (the naive row_number() OVER (PARTITION BY
    lang) puts an entire language — half the corpus, for English — in
    one task).  Stratum sizes join back from the bounded count frame.
    The keep rule rk <= ceil(n/10) is integer arithmetic.
    """
    from ..operators.ranking import global_rank

    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", cw_bucket(F.col("doc_id"), 1, CW_PRIME).alias("hk")
    )
    ranked = global_rank(
        d, "hk", ["doc_id"], rank_col="rk", group_cols=["lang"]
    )
    n_per = d.groupBy("lang").agg(F.count("*").alias("n"))
    keep = (
        F.col("rk") * _SAMPLE_DEN <= F.col("n") + (_SAMPLE_DEN - 1)
    )
    return (
        ranked.join(F.broadcast(n_per), "lang")
        .where(keep)
        .select("doc_id", "lang", F.col("rk").cast("long").alias("rk"))
    )


@register(
    "x34_class_rebalance",
    f"""
    WITH h AS (
        SELECT doc_id, lang,
               {cw_bucket_sql("doc_id", 2, CW_PRIME)} AS hk
        FROM documents),
    r AS (
        SELECT doc_id, lang, hk,
               row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id)
                 AS rk
        FROM h),
    m AS (
        SELECT CAST(MIN(n) AS BIGINT) AS n_min FROM (
            SELECT COUNT(*) AS n FROM documents GROUP BY lang))
    SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
    FROM r, m WHERE rk <= m.n_min
    """,
)
def q_class_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic class rebalancing: downsample every language class
    to EXACTLY the minority class's size — the standard fix for skewed
    training labels, reproducible across engines and reruns (hash-rank,
    not RNG; a different CW seed than x33 so the two samples are
    independent).

    Same scale shape as x33: per-class rank via grouped global_rank (no
    per-class sort buffer — the majority class at 100 TB never sits in
    one task), the class-size floor is one bounded aggregate broadcast
    back, and the keep rule is integer comparison.  Output classes are
    exactly balanced: |kept per class| == min class size (pinned in
    tests/test_feature_ops.py)."""
    from ..operators.ranking import global_rank

    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", cw_bucket(F.col("doc_id"), 2, CW_PRIME).alias("hk")
    )
    ranked = global_rank(
        d, "hk", ["doc_id"], rank_col="rk", group_cols=["lang"]
    )
    n_min = (
        d.groupBy("lang")
        .agg(F.count("*").alias("n"))
        .agg(F.min("n").alias("n_min"))
    )
    return (
        ranked.crossJoin(F.broadcast(n_min))
        .where(F.col("rk") <= F.col("n_min"))
        .select("doc_id", "lang", F.col("rk").cast("long").alias("rk"))
    )
