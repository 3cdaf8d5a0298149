"""xq20 — FIFO supply allocation (round 6).

The classic warehouse matching problem: demand lines consume a per-key
supply budget in arrival order; each line is filled, partially filled,
or stocked out depending on where its cumulative-demand interval falls
against the budget.  SQL-wise this is a prefix sum + clamp — the same
windowed-prefix shape as xq5's sweep line — and the scale contract is
that the window partitions by part (high-cardinality key), never
globally.

Supply here is the synthesized partsupp availability folded to %1000 so
all three outcomes occur at every SF (raw availability sums dwarf toy
demand; the fold is deterministic and oracle-mirrored).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import table
from .tpch_partsupp import _PS_SQL, synth_partsupp, synth_supply_expr


@register(
    "xq20_fifo_allocation",
    f"""
    {_PS_SQL},
    sup AS (
        SELECT ps_partkey, SUM(ps_availqty) % 1000 AS supply
        FROM partsupp GROUP BY ps_partkey),
    d AS (
        SELECT l.l_partkey, p.p_brand,
               CAST(l.l_quantity AS BIGINT) AS qty,
               SUM(CAST(l.l_quantity AS BIGINT)) OVER (
                   PARTITION BY l.l_partkey
                   ORDER BY l.l_shipdate, l.l_orderkey, l.l_linenumber
                   ROWS UNBOUNDED PRECEDING) AS prefix
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    a AS (
        SELECT p_brand, qty,
               GREATEST(CAST(0 AS BIGINT),
                   LEAST(qty, sup.supply - (prefix - qty))) AS filled
        FROM d JOIN sup ON sup.ps_partkey = d.l_partkey)
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(*) FILTER (WHERE filled = qty) AS BIGINT) AS n_filled,
           CAST(COUNT(*) FILTER (WHERE filled > 0 AND filled < qty)
                AS BIGINT) AS n_partial,
           CAST(COUNT(*) FILTER (WHERE filled = 0) AS BIGINT) AS n_stockout,
           ROUND(CAST(SUM(filled) AS DOUBLE) / CAST(SUM(qty) AS DOUBLE), 6)
             AS fill_rate
    FROM a GROUP BY p_brand
    """,
)
def q_fifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO allocation of lineitem demand against per-part supply,
    rolled up to brand: a line is filled iff its cumulative-demand
    interval [prefix−qty, prefix) fits under the part's budget, clamped
    otherwise — filled = max(0, min(qty, supply − (prefix − qty))).

    Scale shape: ONE window partitioned by l_partkey (millions of small
    partitions at 100 TB, no global sort); supply —
    ``SUM(ps_availqty) % 1000`` over the deterministic partsupp — is a
    pure function of p_partkey (tpch_partsupp.synth_supply_expr), so it
    is evaluated inline on the part scan and rides the SAME broadcast as
    the brand column instead of generating |part|×4 rows and shuffling
    them back into a per-part SUM (the earlier r9 form; the fold drops
    the partsupp scan, its aggregate exchange, and the second fact-side
    join — plan-simplifying, though the x10 wall is unchanged because
    the query is WindowExec-bound, see below).  The rollup is map-side
    combined.  All quantities are BIGINT end-to-end; fill_rate is the
    single final IEEE division.

    x10 profile (r9): scan 0.6 s, shuffle-only 0.5 s, shuffle+sort
    0.9 s, scan+window 3.3 s — the per-row running-sum evaluation inside
    WindowExec is ~2.4 s and dominates the 4.1 s wall.  Three
    alternatives were built and MEASURED SLOWER: a sort_array+aggregate
    HOF fold at the part grain (4.0 s — interpreted per-element eval),
    a vectorized mapInPandas cumsum over sortWithinPartitions runs
    (3.8 s — Arrow transfer of the full fact eats the win), and a
    bucketed window (partkey % 16k, per-part prefix reconstructed from
    a running max of part-start offsets) that cut partition churn 16×
    but added two more window functions (5.6 s).  The straight per-part
    window is Spark's best plan for this shape; it scales
    (partition-parallel, no global sort) even where the toy-scale ratio
    is window-eval-bound."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("qty"),
    )
    p = table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", synth_supply_expr().alias("supply")
    )
    w = Window.partitionBy("l_partkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    ).rowsBetween(Window.unboundedPreceding, 0)
    d = li.withColumn("prefix", F.sum("qty").over(w))
    a = (
        d.join(F.broadcast(p), d.l_partkey == p.p_partkey)
        .select(
            "p_brand",
            "qty",
            F.greatest(
                F.lit(0).cast("long"),
                F.least(
                    F.col("qty"),
                    F.col("supply") - (F.col("prefix") - F.col("qty")),
                ),
            ).alias("filled"),
        )
    )
    return a.groupBy("p_brand").agg(
        F.count("*").alias("n_lines"),
        F.sum((F.col("filled") == F.col("qty")).cast("long")).alias(
            "n_filled"
        ),
        F.sum(
            ((F.col("filled") > 0) & (F.col("filled") < F.col("qty"))).cast(
                "long"
            )
        ).alias("n_partial"),
        F.sum((F.col("filled") == 0).cast("long")).alias("n_stockout"),
        F.round(
            F.sum("filled").cast("double") / F.sum("qty").cast("double"), 6
        ).alias("fill_rate"),
    )


MIN_SUPPORT = 2
TOP_K_RULES = 20


@register(
    "xq23_basket_lift",
    f"""
    WITH b AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_baskets FROM b),
    item AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n_p FROM b GROUP BY p),
    pair AS (
        SELECT a.p AS p1, c.p AS p2, CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM b a JOIN b c ON a.o = c.o AND a.p < c.p
        GROUP BY a.p, c.p HAVING COUNT(*) >= {MIN_SUPPORT})
    SELECT p1, p2, n_ab, i1.n_p AS n_p1, i2.n_p AS n_p2,
           ROUND(CAST(n_ab AS DOUBLE) / CAST(i1.n_p AS DOUBLE), 6)
             AS confidence,
           ROUND(CAST(n_ab AS DOUBLE) * CAST(n.n_baskets AS DOUBLE)
                 / (CAST(i1.n_p AS DOUBLE) * CAST(i2.n_p AS DOUBLE)), 6)
             AS lift
    FROM pair JOIN item i1 ON i1.p = pair.p1
              JOIN item i2 ON i2.p = pair.p2, n
    ORDER BY CAST(n_ab AS DOUBLE) * CAST(n.n_baskets AS DOUBLE)
             / (CAST(i1.n_p AS DOUBLE) * CAST(i2.n_p AS DOUBLE)) DESC,
             p1, p2
    LIMIT {TOP_K_RULES}
    """,
)
def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules at the ORDER grain: top part
    pairs by lift (observed co-purchase rate over the independence
    expectation), with support floor and confidence — the Apriori
    2-itemset step every recommender baseline starts from.  Differs
    from x21 (user-grain co-occurrence with a per-user cap) and xt22
    (token bigrams): baskets are orders, and the score is lift.

    Scale shape: the pair join is per-order (bounded basket sizes ⇒
    bounded fan-out per order, the x24 edge-build argument), pair counts
    are map-side combined with a support-floor HAVING that shrinks the
    frame before the two item-frequency joins (item counts broadcast),
    and the top-k orders by the UNROUNDED lift expression on both
    engines (deterministic boundary, x30's lesson) via
    TakeOrderedAndProject.  All counts BIGINT; confidence and lift are
    single IEEE expressions."""
    b = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    n = b.agg(F.countDistinct("o").alias("n_baskets"))
    item = b.groupBy("p").agg(F.count("*").alias("n_p"))
    a, c = b.alias("a"), b.alias("c")
    pair = (
        a.join(c, (F.col("a.o") == F.col("c.o")) & (F.col("a.p") < F.col("c.p")))
        .groupBy(F.col("a.p").alias("p1"), F.col("c.p").alias("p2"))
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= MIN_SUPPORT)
    )
    i1 = item.select(F.col("p").alias("p1"), F.col("n_p").alias("n_p1"))
    i2 = item.select(F.col("p").alias("p2"), F.col("n_p").alias("n_p2"))
    j = (
        pair.join(F.broadcast(i1), "p1")
        .join(F.broadcast(i2), "p2")
        .crossJoin(F.broadcast(n))
    )
    lift = (
        F.col("n_ab").cast("double") * F.col("n_baskets").cast("double")
    ) / (F.col("n_p1").cast("double") * F.col("n_p2").cast("double"))
    return (
        j.select(
            "p1",
            "p2",
            "n_ab",
            "n_p1",
            "n_p2",
            F.round(
                F.col("n_ab").cast("double") / F.col("n_p1").cast("double"),
                6,
            ).alias("confidence"),
            F.round(lift, 6).alias("lift"),
            lift.alias("__exact"),
        )
        .orderBy(F.col("__exact").desc(), "p1", "p2")
        .limit(TOP_K_RULES)
        .drop("__exact")
    )


@register(
    "xq24_revenue_bridge",
    """
    WITH y AS (
        SELECT p.p_brand,
               CAST(SUM(CASE WHEN year(l_shipdate) = 1996
                    THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT)
                 AS q0,
               CAST(SUM(CASE WHEN year(l_shipdate) = 1997
                    THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT)
                 AS q1,
               SUM(CASE WHEN year(l_shipdate) = 1996
                   THEN CAST(l_extendedprice AS DECIMAL(38,6))
                   ELSE CAST(0 AS DECIMAL(38,6)) END) AS r0,
               SUM(CASE WHEN year(l_shipdate) = 1997
                   THEN CAST(l_extendedprice AS DECIMAL(38,6))
                   ELSE CAST(0 AS DECIMAL(38,6)) END) AS r1
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE year(l_shipdate) IN (1996, 1997)
        GROUP BY p.p_brand)
    SELECT p_brand, q0, q1,
           ROUND(CAST(r0 AS DOUBLE), 2) AS r0,
           ROUND(CAST(r1 AS DOUBLE), 2) AS r1,
           ROUND((CAST(q1 AS DOUBLE) - CAST(q0 AS DOUBLE))
                 * (CAST(r0 AS DOUBLE) / CAST(q0 AS DOUBLE)), 4)
             AS volume_effect,
           ROUND(CAST(q1 AS DOUBLE)
                 * (CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE)
                    - CAST(r0 AS DOUBLE) / CAST(q0 AS DOUBLE)), 4)
             AS price_effect,
           ROUND(CAST(r1 AS DOUBLE) - CAST(r0 AS DOUBLE), 4) AS delta
    FROM y WHERE q0 > 0 AND q1 > 0
    """,
)
def q_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue bridge per brand (1996 → 1997): the FP&A
    waterfall splitting ΔR into a volume effect (quantity change at old
    average price) and a price effect (new quantity at the price-point
    shift) — an exact identity, volume + price = ΔR in the reals.

    Exactness: quantities and revenues accumulate as BIGINT /
    DECIMAL(38,6) (both years in ONE conditional aggregate — a single
    scan, no self-join); the effects are short identical IEEE
    expression trees over those exact sums, so both engines round the
    same doubles.  Scale shape: one map-side-combined aggregate keyed
    on brand (part dim broadcast), output brand-bounded."""
    li = table(spark, sf_dir, "lineitem").where(
        F.year("l_shipdate").isin(1996, 1997)
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    y = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(
                F.when(
                    F.year("l_shipdate") == 1996,
                    F.col("l_quantity").cast("long"),
                ).otherwise(F.lit(0))
            ).alias("q0"),
            F.sum(
                F.when(
                    F.year("l_shipdate") == 1997,
                    F.col("l_quantity").cast("long"),
                ).otherwise(F.lit(0))
            ).alias("q1"),
            F.sum(
                F.when(
                    F.year("l_shipdate") == 1996,
                    F.col("l_extendedprice").cast("decimal(38,6)"),
                ).otherwise(F.lit(0).cast("decimal(38,6)"))
            ).alias("r0"),
            F.sum(
                F.when(
                    F.year("l_shipdate") == 1997,
                    F.col("l_extendedprice").cast("decimal(38,6)"),
                ).otherwise(F.lit(0).cast("decimal(38,6)"))
            ).alias("r1"),
        )
        .where((F.col("q0") > 0) & (F.col("q1") > 0))
    )
    q0d, q1d = F.col("q0").cast("double"), F.col("q1").cast("double")
    r0d, r1d = F.col("r0").cast("double"), F.col("r1").cast("double")
    return y.select(
        "p_brand",
        "q0",
        "q1",
        F.round(r0d, 2).alias("r0"),
        F.round(r1d, 2).alias("r1"),
        F.round((q1d - q0d) * (r0d / q0d), 4).alias("volume_effect"),
        F.round(q1d * (r1d / q1d - r0d / q0d), 4).alias("price_effect"),
        F.round(r1d - r0d, 4).alias("delta"),
    )


@register(
    "xq25_pareto_skyline",
    f"""
    {_PS_SQL},
    pp AS (
        SELECT ps_partkey, MIN(ps_supplycost) AS cost,
               CAST(SUM(ps_availqty) AS BIGINT) AS avail
        FROM partsupp GROUP BY ps_partkey),
    pts AS (
        SELECT cost, avail, CAST(COUNT(*) AS BIGINT) AS n_parts
        FROM pp GROUP BY cost, avail),
    s AS (
        SELECT cost, avail, n_parts,
               MAX(avail) OVER (ORDER BY cost ASC, avail DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS pm
        FROM pts)
    SELECT ROUND(cost, 2) AS cost, avail, n_parts
    FROM s WHERE pm IS NULL OR avail > pm
    """,
)
def q_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline of parts on (supply cost ↓, availability ↑): the
    points no other point beats on both dimensions — the
    multi-objective shortlist query (skyline operator, Börzsönyi et al.
    ICDE'01).  Duplicate (cost, avail) points collapse first (carrying
    a part count), which makes dominance strict and the answer
    well-defined.

    Scale shape: the 2D skyline reduces to ONE pass once points are
    ordered by cost — a point survives iff its availability exceeds
    every strictly-earlier point's maximum.  That running max is the
    naive single-partition window in the oracle, and
    operators/ranking.py::global_prefix_max on the Spark side (bucket
    maxima + bounded carry window + bucket-partitioned exclusive max) —
    the prefix-SUM primitive family extended with a MAX carry.  Point
    aggregation is map-side combined; nothing sorts globally."""
    from ..operators.ranking import global_prefix_max

    pp = (
        synth_partsupp(spark, sf_dir)
        .groupBy("ps_partkey")
        .agg(
            F.min("ps_supplycost").alias("cost"),
            F.sum("ps_availqty").alias("avail"),
        )
    )
    pts = pp.groupBy("cost", "avail").agg(F.count("*").alias("n_parts"))
    pts = pts.withColumn("negavail", -F.col("avail"))
    s = global_prefix_max(
        pts, "cost", "avail", ["negavail"], out_col="pm"
    )
    return s.where(
        F.col("pm").isNull() | (F.col("avail") > F.col("pm"))
    ).select(
        F.round("cost", 2).alias("cost"),
        "avail",
        "n_parts",
    )


@register(
    "xq26_abc_classification",
    """
    WITH b AS (
        SELECT p.p_brand,
               SUM(CAST(l.l_extendedprice AS DECIMAL(38,6))) AS rev
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY p.p_brand),
    tot AS (SELECT SUM(rev) AS t FROM b),
    s AS (
        SELECT p_brand, rev,
               SUM(rev) OVER (ORDER BY rev DESC, p_brand
                    ROWS UNBOUNDED PRECEDING) AS cum
        FROM b)
    SELECT p_brand,
           ROUND(CAST(rev AS DOUBLE), 2) AS revenue,
           ROUND(CAST(cum AS DOUBLE) / CAST(tot.t AS DOUBLE), 6)
             AS cum_share,
           CASE WHEN CAST(cum AS DOUBLE) / CAST(tot.t AS DOUBLE) <= 0.8
                THEN 'A'
                WHEN CAST(cum AS DOUBLE) / CAST(tot.t AS DOUBLE) <= 0.95
                THEN 'B' ELSE 'C' END AS abc_class
    FROM s, tot
    """,
)
def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto contribution classification of brands by revenue:
    rank by revenue, take the cumulative revenue share, and bucket into
    A (first 80% of revenue), B (to 95%), C (tail) — the inventory-
    management staple behind 'which 20% of SKUs carry 80% of revenue'.

    Exactness: revenue and the cumulative sum accumulate in
    DECIMAL(38,6) (ordered identically on both engines — revenue DESC
    with brand tie-break), and doubles appear only in the share
    division and the class thresholds, the same expression tree on both
    sides.  Scale shape: one map-side-combined brand aggregate (part
    dim broadcast); the ordered cumulative window runs over the
    dimension-bounded brand frame (25 rows — the bounded-window pin
    every xq13-family query documents).  A high-cardinality grouping
    would swap the window for the bucketed two-level carry of
    operators/ranking.global_rank (per-bucket totals, bounded offsets
    window, in-bucket window)."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice"
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).alias(
                "rev"
            )
        )
    )
    tot = b.agg(F.sum("rev").alias("t"))
    w = Window.orderBy(F.col("rev").desc(), "p_brand").rowsBetween(
        Window.unboundedPreceding, 0
    )
    s = b.withColumn("cum", F.sum("rev").over(w)).crossJoin(
        F.broadcast(tot)
    )
    share = F.col("cum").cast("double") / F.col("t").cast("double")
    return s.select(
        "p_brand",
        F.round(F.col("rev").cast("double"), 2).alias("revenue"),
        F.round(share, 6).alias("cum_share"),
        F.when(share <= 0.8, "A")
        .when(share <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


_PROMO_N = 60
_PROMO_BASE = "datediff('day', DATE '1970-01-01', DATE '1995-02-01')"


@register(
    "xq34_promo_window_rollup",
    f"""
    WITH promos AS (
        SELECT i AS promo_id,
               {_PROMO_BASE} + i * 41 AS start_d,
               {_PROMO_BASE} + i * 41 + 4 + i % 9 AS end_d
        FROM range({_PROMO_N}) t(i)),
    pts AS (
        SELECT datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
                 AS pd,
               CAST(l_quantity AS BIGINT) AS qty,
               CAST(l_extendedprice AS DECIMAL(38,6)) AS pr
        FROM lineitem)
    SELECT CAST(promo_id AS BIGINT) AS promo_id,
           CAST(start_d AS BIGINT) AS start_d,
           CAST(end_d AS BIGINT) AS end_d,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(qty) AS BIGINT) AS total_qty,
           ROUND(CAST(SUM(pr) AS DOUBLE), 2) AS revenue
    FROM promos JOIN pts ON pd BETWEEN start_d AND end_d
    GROUP BY promo_id, start_d, end_d
    """,
)
def q_promo_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipment volume/revenue inside each promotional window — a
    point-in-interval join between the lineitem fact (point =
    ship day) and a 60-window promo calendar, rolled up per promo.

    The naive BETWEEN join is a BroadcastNestedLoopJoin (no equi-key);
    operators/interval_join.py::interval_point_join grid-buckets both
    sides (16-day cells: each 4-12-day promo replicates to <= 2 cells,
    each point to exactly 1) and runs an ordinary hash equi-join on the
    cell id with the exact BETWEEN as a residual — |P| + 2|I| shuffle
    rows instead of |P|x|I| pairs, at ANY calendar size (a year-round
    promo table at 100 TB joins the same way; plan pinned
    nested-loop-free in tests/test_interval_join.py).

    The promo calendar is deterministic arithmetic on range(60), built
    identically on both engines; epoch-day conversion is date
    arithmetic (no timezone, no libm); sums are BIGINT / DECIMAL(38,6)
    exact."""
    from ..operators.interval_join import interval_point_join

    base = F.datediff(
        F.lit("1995-02-01").cast("date"), F.lit("1970-01-01").cast("date")
    )
    promos = spark.range(_PROMO_N).select(
        F.col("id").alias("promo_id"),
        (base + F.col("id") * 41).cast("long").alias("start_d"),
        (base + F.col("id") * 41 + 4 + F.col("id") % 9)
        .cast("long")
        .alias("end_d"),
    )
    pts = table(spark, sf_dir, "lineitem").select(
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.lit("1970-01-01").cast("date"),
        )
        .cast("long")
        .alias("pd"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.col("l_extendedprice").cast("decimal(38,6)").alias("pr"),
    )
    j = interval_point_join(pts, promos, "pd", "start_d", "end_d", 16)
    return j.groupBy("promo_id", "start_d", "end_d").agg(
        F.count("*").alias("n_lines"),
        F.sum("qty").alias("total_qty"),
        F.round(F.sum("pr").cast("double"), 2).alias("revenue"),
    )
