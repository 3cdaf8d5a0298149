"""Growth/occupancy analytics on `events` (round 5d).

Two classic event-warehouse operators, each chosen because the naive SQL
formulation does NOT scale and the registered plan is the standard
distributed rewrite:

- x17_cumulative_distinct_users — "distinct users seen through day D".
  The naive form is COUNT(DISTINCT user) OVER (ORDER BY day ROWS
  UNBOUNDED PRECEDING), which Spark refuses (and any engine would
  execute as an O(days × users) re-scan).  The scalable identity:
  cumulative distinct == running SUM of first-appearance counts.  One
  groupBy(user) for first_day, one tiny per-day rollup, one window over
  ~10² day rows.  At 100 TB the only big shuffle keys on user_id.
- xq5_concurrent_sessions — per-day peak number of simultaneously open
  sessions (sweep line over session intervals).  The textbook form is a
  single global cumsum over all ±1 boundary events — a one-partition
  sort.  Registered here as the two-level prefix sum: intra-day cumsum
  (window partitioned by day) + carry-in offsets (global window over
  distinct DAYS only, bounded by calendar size, SURVEY.md §7.4.2).
  Peak-per-day is invariant to tie order among equal (t, delta) keys,
  so the row-frame cumsum is deterministic where it matters.

Reference scope: the reference's analytics layer is monthly aggregate
views (/root/reference/schema_star.sql:108-164, month-over-month rates);
these extend the same "derive a time series from raw facts" posture to
event granularity.

Sessions for xq5 come from the same 30-min-gap sessionize as
x05_sessionize_events (operators/sessionize.py) so the two operators
agree on what a session is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.sessionize import session_stats
from ..registry import register
from ..session import materialize
from ..sources.tables import table
from .events_ops import EVENTS_US


@register(
    "x17_cumulative_distinct_users",
    f"""
    WITH f AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
        FROM {EVENTS_US}
        GROUP BY user_id
    ),
    d AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM {EVENTS_US}),
    n AS (
        SELECT d.day, COUNT(f.user_id) AS new_users
        FROM d LEFT JOIN f ON f.first_day = d.day
        GROUP BY d.day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
           CAST(SUM(new_users) OVER (
                ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_users
    FROM n
    """,
)
def q_x17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day via first-seen + running sum.

    COUNT(DISTINCT) over an unbounded ordered window is unsupported (and
    inherently quadratic); first-appearance counting is the exact rewrite:
    a user contributes to the cumulative count on exactly their first
    day.  Days with zero new users still get a row (left join from the
    distinct-day spine), so the series is gap-free over observed days.
    """
    ev = table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    days = ev.select(F.to_date("ts").alias("day")).distinct()
    daily = (
        days.join(first, days["day"] == first["first_day"], "left")
        .groupBy("day")
        .agg(F.count("user_id").alias("new_users"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    )


@register(
    "x17b_rolling_active_users",
    f"""
    WITH a AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM {EVENTS_US}
    ),
    d AS (SELECT DISTINCT day FROM a),
    w AS (
        SELECT a.user_id, d.day AS window_day
        FROM a JOIN d ON d.day BETWEEN a.day AND a.day + 6
    )
    SELECT strftime(window_day, '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
    FROM w GROUP BY window_day
    """,
)
def q_x17b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day active users (WAU) per observed day.

    COUNT(DISTINCT) OVER (RANGE 6 days PRECEDING) is unsupported and
    would re-scan the window per day; the distributed rewrite explodes
    each (user, active-day) pair to the <=7 window days it contributes
    to — a fixed fan-out, not a range join — then runs an ordinary
    two-phase distinct count keyed by window day.  The day spine join is
    a broadcast (calendar-sized).  Shuffles: (user, day) dedup and the
    final count-distinct — both linear, both key-uniform.
    """
    ev = table(spark, sf_dir, "events")
    active = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    spine = active.select("day").distinct().withColumnRenamed(
        "day", "window_day"
    )
    fanned = active.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add("day", 6))
        ).alias("window_day"),
    )
    return (
        fanned.join(F.broadcast(spine), "window_day")
        .groupBy("window_day")
        .agg(F.countDistinct("user_id").alias("wau"))
        .select(
            F.date_format("window_day", "yyyy-MM-dd").alias("day"), "wau"
        )
    )


@register(
    "xq6_last_touch_attribution",
    f"""
    WITH t AS (
        SELECT user_id, ts, MAX(event_type) AS channel
        FROM {EVENTS_US} WHERE event_type IN ('click', 'view')
        GROUP BY user_id, ts
    ),
    p AS (
        SELECT user_id, ts, value AS revenue FROM {EVENTS_US}
        WHERE event_type = 'purchase'
    ),
    j AS (
        SELECT CASE WHEN t.ts IS NOT NULL
                         AND epoch_us(p.ts) - epoch_us(t.ts)
                             <= CAST(604800 AS BIGINT) * 1000000
                    THEN t.channel ELSE 'direct' END AS channel,
               p.revenue
        FROM p ASOF LEFT JOIN t
          ON p.user_id = t.user_id AND t.ts <= p.ts
    )
    SELECT channel, COUNT(*) AS n_purchases,
           CAST(SUM(CAST(revenue AS DECIMAL(38,6))) AS DOUBLE)
               AS attributed_revenue
    FROM j GROUP BY channel
    """,
)
def q_xq6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution with a 7-day lookback TTL.

    Each purchase is credited to the user's most recent click/view at or
    before it; touches older than 7 days (or absent) fall to 'direct'.
    Same union-then-window as-of composition as x05b (one shuffle on
    user_id, no per-group pandas) with two extensions: multi-channel
    touches deduped to one deterministic row per (user, ts)
    (MAX(event_type) — 'view' beats 'click' on ties, identically in both
    engines), and the TTL applied AFTER the carry-forward, which is
    exactly last-touch semantics (an expired touch does not fall back to
    an older one).  Oracle: DuckDB native ASOF JOIN + the same CASE.
    """
    ev = table(spark, sf_dir, "events")
    touches = (
        ev.where(F.col("event_type").isin("click", "view"))
        .groupBy("user_id", "ts")
        .agg(F.max("event_type").alias("channel"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("revenue")
    )
    tagged = touches.select(
        "user_id", "ts", F.lit(0).alias("side"), "channel",
        F.col("ts").alias("touch_ts"),
        F.lit(None).cast("double").alias("revenue"),
    ).unionByName(
        purchases.select(
            "user_id", "ts", F.lit(1).alias("side"),
            F.lit(None).cast("string").alias("channel"),
            F.lit(None).cast("timestamp").alias("touch_ts"), "revenue",
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ttl_us = 7 * 86400 * 1_000_000
    attributed = (
        tagged.withColumn(
            "last_channel", F.last("channel", ignorenulls=True).over(w)
        )
        .withColumn(
            "last_touch_ts", F.last("touch_ts", ignorenulls=True).over(w)
        )
        .where(F.col("side") == 1)
        .select(
            F.when(
                F.col("last_touch_ts").isNotNull()
                & (
                    F.unix_micros("ts") - F.unix_micros("last_touch_ts")
                    <= ttl_us
                ),
                F.col("last_channel"),
            )
            .otherwise(F.lit("direct"))
            .alias("channel"),
            "revenue",
        )
    )
    from ..functions.aggs import sum_exact

    return attributed.groupBy("channel").agg(
        F.count("*").alias("n_purchases"),
        sum_exact("revenue", scale=6).alias("attributed_revenue"),
    )


@register(
    "xq7_gini_revenue",
    """
    WITH r AS (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
                   AS revc
        FROM orders GROUP BY o_custkey
    ),
    k AS (
        SELECT revc,
               row_number() OVER (ORDER BY revc, o_custkey) AS i
        FROM r
    ),
    a AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(revc) AS BIGINT) AS s1,
               CAST(SUM(CAST(i AS DECIMAL(19,0)) * CAST(revc AS DECIMAL(19,0)))
                    AS DECIMAL(38,0)) AS s2
        FROM k
    )
    SELECT n AS n_customers,
           CAST(s2 + s2 - CAST(n + 1 AS DECIMAL(19,0)) * CAST(s1 AS DECIMAL(19,0))
                AS DOUBLE)
           / CAST(CAST(n AS DECIMAL(19,0)) * CAST(s1 AS DECIMAL(19,0))
                  AS DOUBLE) AS gini
    FROM a
    """,
)
def q_xq7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of per-customer revenue.

    Gini needs every row's GLOBAL rank — the one statistic that naively
    forces a single-partition sort.  Uses operators/ranking.global_rank
    (bucketed two-level ranking: equal-width buckets from an in-plan
    min/max probe + per-bucket row_number + bounded offset cumsum) so
    the only unpartitioned steps merge the probe's per-partition
    partials and the <= n_buckets bucket counts, and building the plan
    launches no Spark job.  All arithmetic is exact: revenue in
    integer cents, rank*revenue accumulated in DECIMAL(38,0), one final
    double division — bit-identical across engines (ROUND_NOTES trap 4).
    Formula: G = (2*Σ i*x_(i) − (n+1)*Σx) / (n*Σx) over ascending x.
    """
    from ..operators.ranking import global_rank

    orders = table(spark, sf_dir, "orders")
    # global_rank consumes this frame three times (min/max bucket
    # probe, bucket counts, rank join) — materialize the per-customer
    # aggregate once instead of re-running the orders groupBy per
    # arm (the xq11 lesson; measured 1.54 -> 1.13 s at sf0.1)
    rev = materialize(
        orders.groupBy("o_custkey").agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("revc")
        )
    )
    ranked = global_rank(rev, "revc", ["o_custkey"], rank_col="i")
    a = ranked.agg(
        F.count("*").alias("n"),
        F.sum("revc").alias("s1"),
        F.sum(
            F.col("i").cast("decimal(19,0)")
            * F.col("revc").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    n1s1 = (F.col("n") + 1).cast("decimal(19,0)") * F.col("s1").cast(
        "decimal(19,0)"
    )
    ns1 = F.col("n").cast("decimal(19,0)") * F.col("s1").cast(
        "decimal(19,0)"
    )
    return a.select(
        F.col("n").alias("n_customers"),
        (
            (F.col("s2") + F.col("s2") - n1s1).cast("double")
            / ns1.cast("double")
        ).alias("gini"),
    )


@register(
    "xq7b_lorenz_deciles",
    """
    WITH r AS (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
                   AS revc
        FROM orders GROUP BY o_custkey
    ),
    k AS (
        SELECT revc, row_number() OVER (ORDER BY revc, o_custkey) AS i,
               COUNT(*) OVER () AS n,
               CAST(SUM(revc) OVER () AS BIGINT) AS total
        FROM r
    ),
    d AS (
        SELECT CAST((i * 10 + n - 1) // n AS INTEGER) AS decile,
               CAST(SUM(revc) AS BIGINT) AS decile_revc,
               ANY_VALUE(total) AS total
        FROM k GROUP BY (i * 10 + n - 1) // n
    )
    SELECT decile,
           CAST(SUM(decile_revc) OVER (
               ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_revc,
           CAST(CAST(SUM(decile_revc) OVER (
               ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / CAST(total AS DOUBLE) AS DOUBLE) AS cum_share
    FROM d
    """,
)
def q_xq7b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve at decile resolution: cumulative revenue share of the
    poorest 10%, 20%, ... of customers.  Same global_rank primitive as
    xq7; decile assignment is pure integer arithmetic
    (ceil(i*10/n) = (i*10 + n - 1) div n), cumulative share is one
    window over 10 rows.  The oracle's COUNT(*)/SUM OVER () global
    windows are replaced by one broadcast single-row aggregate.
    """
    from ..operators.ranking import global_rank

    orders = table(spark, sf_dir, "orders")
    # four consumers (min/max bucket probe, bucket counts, rank join,
    # totals) — materialize once, as in xq7/xq11
    rev = materialize(
        orders.groupBy("o_custkey").agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("revc")
        )
    )
    ranked = global_rank(rev, "revc", ["o_custkey"], rank_col="i")
    totals = rev.agg(
        F.count("*").alias("n"), F.sum("revc").alias("total")
    )
    decile = ranked.crossJoin(F.broadcast(totals)).select(
        F.expr("CAST((i * 10 + n - 1) div n AS INT)").alias("decile"),
        "revc",
        "total",
    )
    per = decile.groupBy("decile").agg(
        F.sum("revc").alias("decile_revc"),
        F.first("total").alias("total"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = F.sum("decile_revc").over(w)
    return per.select(
        "decile",
        cum.alias("cum_revc"),
        (cum.cast("double") / F.col("total").cast("double")).alias(
            "cum_share"
        ),
    )


@register(
    "xq8_weighted_median_price",
    """
    WITH g AS (
        SELECT l_extendedprice AS v,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wgt
        FROM lineitem GROUP BY l_extendedprice
    ),
    k AS (
        SELECT v, wgt,
               CAST(SUM(wgt) OVER (
                   ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cumw,
               CAST(SUM(wgt) OVER () AS BIGINT) AS w_total
        FROM g
    )
    SELECT MIN(v) AS weighted_median, ANY_VALUE(w_total) AS w_total
    FROM k WHERE 2 * cumw >= w_total
    """,
)
def q_xq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price: the smallest price whose
    cumulative quantity weight reaches half the total.

    Uses operators/ranking.weighted_quantile_crossing (round 6) — the
    naive form is SUM(w) OVER (ORDER BY v), a single-partition sort;
    the r5 bucketed prefix-sum rewrite removed the cliff but still
    windowed EVERY distinct price; the bucket-targeted form locates the
    crossing bucket from per-bucket weight totals and windows only its
    ~1/64 of rows (no pre-aggregation needed — the crossing MIN is
    tie-order invariant).  Weights are exact integers, the crossing
    test (2*cum >= W) is integer, and the median is an actual data
    value — no interpolation, no floats until the output itself."""
    from ..operators.ranking import weighted_quantile_crossing

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").cast("long").alias("wgt"),
    )
    return weighted_quantile_crossing(li, "v", "wgt")


@register(
    "xq11_rfm_segmentation",
    """
    WITH per AS (
        SELECT o_custkey,
               CAST(MAX(CAST(o_orderdate AS DATE)) - DATE '1970-01-01'
                    AS BIGINT) AS rec_day,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
                   AS revc
        FROM orders GROUP BY o_custkey
    ),
    k AS (
        SELECT revc,
               row_number() OVER (ORDER BY rec_day, o_custkey) AS rr,
               row_number() OVER (ORDER BY n_orders, o_custkey) AS fr,
               row_number() OVER (ORDER BY revc, o_custkey) AS mr,
               COUNT(*) OVER () AS n
        FROM per
    )
    SELECT CAST((rr * 3 + n - 1) // n AS INTEGER) AS r_tercile,
           CAST((fr * 3 + n - 1) // n AS INTEGER) AS f_tercile,
           CAST((mr * 3 + n - 1) // n AS INTEGER) AS m_tercile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(revc) AS BIGINT) AS total_revc
    FROM k GROUP BY 1, 2, 3
    """,
)
def q_xq11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency/frequency/monetary terciles, exactly.

    The textbook form is three global NTILE(3) windows — three
    single-partition sorts.  The key algebra: the tercile of a row is
    ``1 + (rank > n div 3) + (rank > 2n div 3)`` (``ceil(3·rank/n)``
    over a UNIQUE (value, custkey) order), and ``rank ≤ B`` is exactly
    ``struct(value, custkey) ≤ boundary_tuple(B)`` — so per-row
    classification needs only the TWO exact boundary tuples per
    dimension, never a rank column.  ranking.order_statistic_tuples
    finds each dimension's boundary tuples with the sketch-band +
    in-band-confirm plan (two passes over the per-customer grain, zero
    windows); the 1-row boundary frames broadcast-cross back and the
    terciles are codegen'd struct comparisons.  Replaces the r9
    three-fused-ranks + two-joins form — measured 2.46 → ~0.9 s at the
    x10 replica, bit-identical output (boundary ranks are exact; the
    sketch only steers the band).  Output: the 27-cell segment grid
    with exact customer counts and integer-cents revenue mass."""
    from ..operators.ranking import order_statistic_tuples

    orders = table(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.unix_date(F.max(F.col("o_orderdate").cast("date")))
        .cast("long")
        .alias("rec_day"),
        F.count("*").alias("n_orders"),
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("revc"),
    )
    # materialized once (one row per customer, orders-of-magnitude
    # smaller than the fact): the three boundary probes and the final
    # classification pass read it instead of re-running the
    # per-customer groupBy from the parquet scan each time.
    per = materialize(per)
    bounds = order_statistic_tuples(
        per,
        ["rec_day", "n_orders", "revc"],
        "o_custkey",
        {"b1": (1, 3), "b2": (2, 3)},
    )

    def tercile(dim: str) -> Column:
        t = F.struct(
            F.col(dim).alias("v"), F.col("o_custkey").alias("tb")
        )
        # NULL boundary (n < 3 ⇒ rank target 0 has no tuple) means NO
        # row has rank ≤ target — the comparison's NULL coalesces to
        # "above the cut", i.e. contributes 1.
        return (
            F.lit(1)
            + F.coalesce((~(t <= F.col(f"{dim}_b1"))).cast("int"), F.lit(1))
            + F.coalesce((~(t <= F.col(f"{dim}_b2"))).cast("int"), F.lit(1))
        )

    return (
        per.crossJoin(F.broadcast(bounds))
        .select(
            tercile("rec_day").alias("r_tercile"),
            tercile("n_orders").alias("f_tercile"),
            tercile("revc").alias("m_tercile"),
            "revc",
        )
        .groupBy("r_tercile", "f_tercile", "m_tercile")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("revc").alias("total_revc"),
        )
    )


@register(
    "xq9_event_transition_matrix",
    f"""
    WITH t AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM {EVENTS_US}
    ),
    c AS (
        SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        FROM t WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n,
           CAST(CAST(n AS DOUBLE) /
                CAST(CAST(SUM(n) OVER (PARTITION BY prev_type) AS BIGINT)
                     AS DOUBLE) AS DOUBLE) AS p
    FROM c
    """,
)
def q_xq9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral transition matrix: P(next event type |
    previous event type), per-user consecutive pairs.  One window keyed
    by user (tie-broken by event_id so both engines pair identically),
    one count aggregate over the |types|² matrix, row-normalized by a
    window over the tiny matrix itself.  The division is a single
    double op on exact integer counts — engine-identical."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        "user_id",
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    ).where(F.col("prev_type").isNotNull())
    c = pairs.groupBy("prev_type", "next_type").agg(
        F.count("*").alias("n")
    )
    wrow = Window.partitionBy("prev_type")
    return c.select(
        "prev_type",
        "next_type",
        "n",
        (
            F.col("n").cast("double")
            / F.sum("n").over(wrow).cast("double")
        ).alias("p"),
    )


@register(
    "x09c_hll_rollup_day_to_month",
    f"""
    SELECT strftime(date_trunc('month', CAST(ts AS DATE)), '%Y-%m') AS month,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
           TRUE AS hll_ok
    FROM {EVENTS_US}
    GROUP BY date_trunc('month', CAST(ts AS DATE))
    """,
)
def q_x09c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch re-aggregation: day-level HLL sketches union'd to months.

    The production pattern behind xs5 applied to distinct counts: daily
    DataSketches HLL sketches are maintained incrementally at ingest;
    month-level (or week, or quarter) distinct-user estimates come from
    ``hll_union_agg`` over the 30 stored sketches — no rescan of raw
    events, and the union is associative so any calendar rollup works
    from the same partials.  The registered query carries the exact
    verify arm (one countDistinct) and asserts the estimate lands within
    ±4% (HLL lgK=12 has sigma ~1.6%); the oracle checks exact + flag,
    same contract shape as xt14_ngram_vocab_estimate.
    """
    ev = table(spark, sf_dir, "events")
    days = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    )
    day_sketches = days.groupBy("day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    month_est = (
        day_sketches.groupBy(
            F.date_format(F.trunc("day", "month"), "yyyy-MM").alias("month")
        )
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    exact = days.groupBy(
        F.date_format(F.trunc("day", "month"), "yyyy-MM").alias("month")
    ).agg(F.countDistinct("user_id").alias("exact_distinct"))
    return (
        exact.join(month_est, "month")
        .select(
            "month",
            "exact_distinct",
            (
                F.abs(F.col("est") - F.col("exact_distinct"))
                <= 0.04 * F.col("exact_distinct")
            ).alias("hll_ok"),
        )
    )


@register(
    "xq5_concurrent_sessions",
    f"""
    WITH s AS (
        SELECT user_id, session_seq,
               MIN(ts) AS session_start, MAX(ts) AS session_end
        FROM (
          SELECT user_id, ts,
                 CAST(SUM(CASE WHEN prev_ts IS NULL
                               OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS session_seq
          FROM (SELECT user_id, ts,
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
                FROM {EVENTS_US}))
        GROUP BY user_id, session_seq
    ),
    e AS (
        SELECT session_start AS t, 1 AS delta FROM s
        UNION ALL
        SELECT session_end AS t, -1 AS delta FROM s
    ),
    c AS (
        SELECT CAST(t AS DATE) AS day,
               SUM(delta) OVER (
                   ORDER BY t, delta DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS conc
        FROM e
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(MAX(conc) AS BIGINT) AS max_concurrent
    FROM c GROUP BY day
    """,
)
def q_xq5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day peak concurrent sessions, distributed sweep line.

    Boundary events (+1 at session_start, -1 at session_end, inclusive
    intervals so starts sort before ends at equal t) are prefix-summed in
    two levels: a window partitioned BY DAY does the intra-day running
    sum, and the carry-in (sessions opened before the day and not yet
    closed) is the global running sum of per-day totals — a window over
    one row per day.  Identical to the single global cumsum (the oracle's
    form) because prefix sums compose; unlike it, no full-data single
    partition anywhere.
    """
    ev = table(spark, sf_dir, "events")
    s = session_stats(ev, gap_minutes=30)
    bounds = s.select(
        F.col("session_start").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        s.select(F.col("session_end").alias("t"), F.lit(-1).alias("delta"))
    )
    bounds = bounds.withColumn("day", F.to_date("t"))
    # intra-day running sum (+1 before -1 at equal t → inclusive overlap)
    w_day = (
        Window.partitionBy("day")
        .orderBy(F.col("t"), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    intra = bounds.withColumn("run", F.sum("delta").over(w_day))
    # carry-in: cumulative sum of prior days' net deltas (one row per day)
    day_tot = bounds.groupBy("day").agg(F.sum("delta").alias("net"))
    w_days = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = day_tot.select(
        "day", F.coalesce(F.sum("net").over(w_days), F.lit(0)).alias("carry")
    )
    return (
        intra.join(F.broadcast(carry), "day")
        .groupBy("day")
        .agg(F.max(F.col("carry") + F.col("run")).alias("max_concurrent"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"), "max_concurrent"
        )
    )


@register(
    "xq12_robust_group_stats",
    """
    WITH ranked AS (
        SELECT o_orderpriority, o_totalprice,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders),
    med AS (
        SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS m
        FROM orders GROUP BY o_orderpriority),
    mad AS (
        SELECT o.o_orderpriority,
               quantile_cont(abs(o.o_totalprice - med.m), 0.5) AS d
        FROM orders o JOIN med USING (o_orderpriority)
        GROUP BY o.o_orderpriority)
    SELECT r.o_orderpriority,
           ROUND(CAST(SUM(CAST(r.o_totalprice AS DECIMAL(38,6)))
                        FILTER (WHERE rn > floor(n * 0.05)
                                  AND rn <= n - floor(n * 0.05)) AS DOUBLE)
                 / COUNT(*) FILTER (WHERE rn > floor(n * 0.05)
                                      AND rn <= n - floor(n * 0.05)),
                 4) AS trimmed_mean,
           ROUND(ANY_VALUE(med.m), 4) AS median_price,
           ROUND(ANY_VALUE(mad.d), 4) AS mad_price
    FROM ranked r
    JOIN med USING (o_orderpriority)
    JOIN mad USING (o_orderpriority)
    GROUP BY r.o_orderpriority
    """,
)
def q_robust_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group statistics — 5% two-sided trimmed mean, exact
    median, and MAD (median absolute deviation) of order value per
    priority class — on the sketch-band primitives (r9 rewrite): no
    per-group sort buffer, no windows at all, no eager driver jobs.

    The naive SQL is two nested per-group sorts; the r8 bucketed form
    avoided them but paid an eager approxQuantile probe, a histogram
    pass + in-bucket windows, a checkpoint, and a driver-side medians
    collect — measured 4.8 s at the x10 replica, almost all of it
    Catalyst planning of the bucket expressions and job-chain latency.
    Band form (measured ~1.5 s, bit-identical):

    1. Values become exact integer CENTS (o_totalprice is a 2-decimal
       double at every SF — asserted by bit-exact parity vs the
       decimal-summing oracle), so every sum below is an exact long.
    2. ONE pass: per group, count + total cents + a single 6-probe GK
       sketch banding ranks 0.05n, 0.95n, 0.5n (ranking.sketch_band_edges:
       the rank-slack rule and whole-domain regime of the band core).
    3. ONE confirm pass: per band, exact below-band count and cents sum
       plus the bounded in-band collect.
    4. Final projection (grain rows only): the trimmed sum is the exact
       three-part decomposition  S_trim = S_tot − S_low − S_high  with
       S_low = Σ(x < a) + (k − cnt(x < a))·a  at a = the in-band value
       of rank k (ties interchangeable: any k-smallest multiset has the
       same sum), mirrored for S_high; the median interpolates the two
       straddle ranks (quantile_cont).  k replicates the oracle's
       floor(n · 0.05) in the same double arithmetic.
    5. MAD needs |x − median| with the median known, a true data
       dependency: one more band pair over the deviations
       (ranking.grouped_quantiles_band on doubles — MAD needs order
       statistics only, no sums, so 2-decimality is not required).

    Four scans of orders total, zero windows, zero joins wider than a
    broadcast of one row per group."""
    from ..functions.aggs import cents
    from ..operators.ranking import grouped_quantiles_band, sketch_band_edges

    g = "o_orderpriority"
    acc = 2000
    o = table(spark, sf_dir, "orders").select(g, "o_totalprice")
    src = o.select(
        g, cents("o_totalprice").alias("vc")
    )
    vc = F.col("vc")
    tags = ("lo", "hi", "md")
    edges = sketch_band_edges(vc, [0.05, 0.95, 0.5], acc)
    bands = src.groupBy(g).agg(
        F.count("*").alias("n"),
        F.sum("vc").alias("s_tot"),
        *[
            e.alias(f"{side}_{tag}")
            for tag, pair in zip(tags, edges)
            for side, e in zip(("blo", "bhi"), pair)
        ],
    )
    j = src.join(F.broadcast(bands), g)

    def band_aggs(tag: str):
        blo, bhi = F.col(f"blo_{tag}"), F.col(f"bhi_{tag}")
        return [
            F.sum((vc < blo).cast("long")).alias(f"nb_{tag}"),
            F.coalesce(F.sum(F.when(vc < blo, vc)), F.lit(0).cast("long")).alias(
                f"sb_{tag}"
            ),
            F.sort_array(
                F.collect_list(F.when((vc >= blo) & (vc <= bhi), vc))
            ).alias(f"band_{tag}"),
        ]

    got = j.groupBy(g).agg(
        F.first("n").alias("n"),
        F.first("s_tot").alias("s_tot"),
        *[a for tag in tags for a in band_aggs(tag)],
    )

    n = F.col("n")
    k = F.floor(n * F.lit(0.05)).cast("long")  # the oracle's double floor

    def arr_sum(arr):
        return F.aggregate(arr, F.lit(0).cast("long"), lambda s, x: s + x)

    # S_low: k smallest.  a = in-band value at rank k.
    a = F.element_at("band_lo", (k - F.col("nb_lo")).cast("int"))
    lo_lt = F.filter("band_lo", lambda x: x < a)
    cnt_lt_a = F.col("nb_lo") + F.size(lo_lt)
    s_lt_a = F.col("sb_lo") + arr_sum(lo_lt)
    s_low = F.when(k <= 0, F.lit(0).cast("long")).otherwise(
        s_lt_a + (k - cnt_lt_a) * a
    )
    # S_high: k largest.  b = in-band value at rank n-k+1.
    b = F.element_at("band_hi", (n - k + 1 - F.col("nb_hi")).cast("int"))
    hi_le = F.filter("band_hi", lambda x: x <= b)
    cnt_gt_b = n - (F.col("nb_hi") + F.size(hi_le))
    s_gt_b = F.col("s_tot") - (F.col("sb_hi") + arr_sum(hi_le))
    s_high = F.when(k <= 0, F.lit(0).cast("long")).otherwise(
        s_gt_b + (k - cnt_gt_b) * b
    )
    s_trim = F.col("s_tot") - s_low - s_high
    trimmed = (s_trim.cast("double") / 100) / (n - 2 * k).cast("double")

    # median: quantile_cont on the cents band, recovered to the exact
    # original double by cents/100 (nearest-double of a 2-decimal value)
    pos = F.lit(0.5) * (n - 1).cast("double")
    r_lo = F.floor(pos) + 1
    frac = pos - F.floor(pos)
    m_lo = F.element_at("band_md", (r_lo - F.col("nb_md")).cast("int")).cast(
        "double"
    ) / 100
    m_hi = F.element_at(
        "band_md", (r_lo + 1 - F.col("nb_md")).cast("int")
    ).cast("double") / 100
    med = F.when(frac == 0, m_lo).otherwise(
        m_lo * (F.lit(1.0) - frac) + m_hi * frac
    )
    stats = got.select(
        g, trimmed.alias("__tm"), med.alias("__med")
    )

    # MAD: true data dependency on the median — one more band pass over
    # the absolute deviations (order statistics only; doubles are fine)
    dev = o.join(F.broadcast(stats.select(g, "__med")), g).select(
        g, F.abs(F.col("o_totalprice") - F.col("__med")).alias("__adev")
    )
    mad = grouped_quantiles_band(dev, "__adev", [g], {"__mad": 0.5}, accuracy=acc)
    return stats.join(mad, g).select(
        g,
        F.round("__tm", 4).alias("trimmed_mean"),
        F.round("__med", 4).alias("median_price"),
        F.round("__mad", 4).alias("mad_price"),
    )


_Q13_BINW = 8
_Q13_QS = {"p50": 0.5, "p90": 0.9, "p99": 0.99}


def _q13_oracle() -> str:
    cols = []
    for name, q in _Q13_QS.items():
        t = f"(CAST({q} AS DOUBLE) * CAST(tot AS DOUBLE))"
        cols.append(
            f"""ROUND(MAX(CASE
               WHEN CAST(cum - c AS DOUBLE) < {t}
                AND {t} <= CAST(cum AS DOUBLE)
               THEN CAST(bin AS DOUBLE) * CAST({_Q13_BINW} AS DOUBLE)
                    + CAST({_Q13_BINW} AS DOUBLE)
                      * ({t} - CAST(cum - c AS DOUBLE))
                      / CAST(c AS DOUBLE)
               END), 4) AS {name}"""
        )
    sel = ",\n           ".join(cols)
    return f"""
    WITH e AS (
        SELECT strftime(date_trunc('week', CAST(ts AS DATE)), '%Y-%m-%d')
                 AS week,
               CAST(ts AS DATE) AS day,
               CAST(floor(value / CAST({_Q13_BINW} AS DOUBLE)) AS BIGINT)
                 AS bin
        FROM {EVENTS_US}),
    d AS (SELECT week, day, bin, COUNT(*) AS c
          FROM e GROUP BY week, day, bin),
    m AS (SELECT week, bin, SUM(c) AS c FROM d GROUP BY week, bin),
    t AS (SELECT week, SUM(c) AS tot FROM m GROUP BY week),
    cu AS (SELECT week, bin, c,
                  SUM(c) OVER (PARTITION BY week ORDER BY bin) AS cum
           FROM m),
    j AS (SELECT cu.week, cu.bin, cu.c, cu.cum, t.tot
          FROM cu JOIN t USING (week))
    SELECT week,
           CAST(MAX(tot) AS BIGINT) AS n_events,
           {sel}
    FROM j GROUP BY week
    """



@register("xq13_histogram_quantile_rollup", _q13_oracle())
def q_histogram_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-bin histogram sketch: daily partials rolled up to
    weekly approximate quantiles (p50/p90/p99 of event value).

    The sketch family's third member (x09c HLL distinct, x09b Count-Min
    frequency, this one quantiles): a fixed-boundary histogram is the
    simplest MERGEABLE quantile summary — day-level (month, day, bin)
    count partials are maintained at ingest, any calendar rollup (week here —
    the synthetic events span one month) is a re-aggregation of the
    partials (SUM over bins — associative,
    map-side combined), and no raw-event rescan ever happens.  Unlike
    t-digest/KLL the merge is trivially deterministic, so the monthly
    quantile is bit-reproducible on any engine — the DuckDB oracle runs
    the identical double arithmetic and hash-matches exactly, giving
    this sketch the same exact-verify contract as the HLL/CMS rows
    (error bound: one bin width, here 8 value units).

    Plan shape at 100 TB: two hash aggregates (events → day partials →
    month bins) and ONE bounded window — the cumulative sum runs over
    (months × ~70 bins) aggregated rows, never data.  Interpolation
    within the crossing bin is pure arithmetic on (cum, c, tot).
    """
    ev = table(spark, sf_dir, "events").select(
        F.date_format(F.trunc(F.to_date("ts"), "week"), "yyyy-MM-dd")
        .alias("week"),
        F.to_date("ts").alias("day"),
        F.floor(F.col("value") / F.lit(float(_Q13_BINW)))
        .cast("long")
        .alias("bin"),
    )
    day_part = ev.groupBy("week", "day", "bin").agg(
        F.count("*").alias("c")
    )
    week_hist = day_part.groupBy("week", "bin").agg(
        F.sum("c").alias("c")
    )
    tot = week_hist.groupBy("week").agg(F.sum("c").alias("tot"))
    w_cum = (
        Window.partitionBy("week")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    j = week_hist.withColumn("cum", F.sum("c").over(w_cum)).join(
        F.broadcast(tot), "week"
    )
    binw = F.lit(float(_Q13_BINW))
    cum_lo = (F.col("cum") - F.col("c")).cast("double")
    aggs = [F.max("tot").alias("n_events")]
    for name, q in _Q13_QS.items():
        t = F.lit(q) * F.col("tot").cast("double")
        val = F.col("bin").cast("double") * binw + binw * (
            t - cum_lo
        ) / F.col("c").cast("double")
        aggs.append(
            F.round(
                F.max(
                    F.when(
                        (cum_lo < t) & (t <= F.col("cum").cast("double")),
                        val,
                    )
                ),
                4,
            ).alias(name)
        )
    return j.groupBy("week").agg(*aggs)


@register(
    "xq14_cohort_ltv",
    f"""
    WITH p AS (
        SELECT user_id,
               date_trunc('week', CAST(ts AS DATE)) AS wk,
               value
        FROM {EVENTS_US} WHERE event_type = 'purchase'),
    c AS (SELECT user_id, MIN(wk) AS cohort FROM p GROUP BY user_id)
    SELECT strftime(c.cohort, '%Y-%m-%d') AS cohort_week,
           CAST(datediff('day', c.cohort, p.wk) // 7 AS INT) AS age_weeks,
           CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS n_buyers,
           COUNT(*) AS n_purchases,
           ROUND(CAST(SUM(CAST(p.value AS DECIMAL(38,6))) AS DOUBLE), 4)
             AS revenue
    FROM p JOIN c USING (user_id)
    GROUP BY c.cohort, datediff('day', c.cohort, p.wk) // 7
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle: users grouped by first-purchase
    week, revenue tracked by cohort age in weeks — the (cohort × age)
    matrix behind every retention/LTV curve.

    Scale shape: one groupBy(user) for the cohort assignment, one
    user-keyed join back to purchases (both sides hash-partitioned on
    user_id — at 100 TB this is a single co-partitioned shuffle, and
    the cohort frame is orders of magnitude smaller than the fact),
    one (cohort, age)-keyed aggregate of calendar-bounded cardinality.
    Revenue accumulates in DECIMAL(38,6) (functions/aggs.py contract)
    so the matrix hash-matches the oracle bit-for-bit."""
    ev = table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.trunc(F.to_date("ts"), "week").alias("wk"), "value"
    )
    c = p.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    j = p.join(c, "user_id")
    return (
        j.groupBy(
            "cohort",
            F.expr("CAST(datediff(wk, cohort) div 7 AS INT)").alias(
                "age_weeks"
            ),
        )
        .agg(
            F.countDistinct("user_id").alias("n_buyers"),
            F.count("*").alias("n_purchases"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,6)")).cast("double"), 4
            ).alias("revenue"),
        )
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            "age_weeks",
            "n_buyers",
            "n_purchases",
            "revenue",
        )
    )


@register(
    "xq15_top_event_paths",
    f"""
    WITH p AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM {EVENTS_US}
        GROUP BY user_id, CAST(ts AS DATE))
    SELECT path, COUNT(*) AS n_user_days
    FROM p GROUP BY path
    ORDER BY n_user_days DESC, path
    LIMIT 20
    """,
)
def q_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top behavioral paths: the ordered event-type sequence each user
    produced within a day, counted across all user-days (the 'what do
    people actually do' query behind Sankey/path-analysis views).

    Scale shape: ONE shuffle keyed on (user_id, day) — high-cardinality
    keys, no skew magnet — whose aggregate builds the path string via
    array_sort(collect_list(struct(ts, event_id, event_type))): the
    struct sort key makes intra-day order total (event_id breaks ts
    ties), so the path is deterministic on both engines.  The second
    aggregate groups by path (distinct-paths-bounded, Zipf-shaped) and
    the top-k is TakeOrderedAndProject (per-partition heap + merge of
    k rows, never a global sort).  The LIMIT boundary is deterministic
    because the ordering (count DESC, path ASC) is a total order.
    Per-user-day paths are calendar-bounded (a user's events in one
    day), so no collect_list buffer can exceed a day of one user's
    activity — the same boundedness argument as x05 sessionization."""
    ev = table(spark, sf_dir, "events")
    paths = (
        ev.select(
            "user_id",
            F.to_date("ts").alias("day"),
            F.struct("ts", "event_id", "event_type").alias("e"),
        )
        .groupBy("user_id", "day")
        .agg(
            F.array_join(
                F.expr("transform(array_sort(collect_list(e)), x -> x.event_type)"),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_user_days"))
        .orderBy(F.col("n_user_days").desc(), "path")
        .limit(20)
    )


@register(
    "xq16_time_weighted_value",
    f"""
    WITH iv AS (
        SELECT CAST(ts AS DATE) AS day,
               (epoch_us(lead(ts) OVER w) - epoch_us(ts)) // 1000 AS dur_ms,
               CAST(CAST(value AS DECIMAL(25,6)) * 1000000 AS BIGINT)
                 AS val_micros
        FROM {EVENTS_US}
        WINDOW w AS (PARTITION BY user_id, CAST(ts AS DATE)
                     ORDER BY ts, event_id))
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dur_ms) AS BIGINT) AS total_dur_ms,
           ROUND(CAST(SUM(CAST(val_micros * dur_ms AS DECIMAL(38,0)))
                      AS DOUBLE)
                 / 1000000.0 / CAST(SUM(dur_ms) AS DOUBLE), 4) AS twav
    FROM iv WHERE dur_ms IS NOT NULL AND dur_ms > 0
    GROUP BY day
    """,
)
def q_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-weighted mean event value per day (TWAP shape): each
    event's value is held until the user's next event that day, and the
    daily mean weights value by that holding time — the standard fix for
    irregular sampling, where a plain AVG over-counts burst periods.

    Scale shape: the only window is partitioned by (user_id, day) — at
    100 TB that is millions of small partitions, never a single-task
    sort (windowing by event_type or day alone WOULD be: 5 resp. ~365
    giant partitions).  Exactness: value enters as DECIMAL(25,6), is
    scaled to integer micros, multiplied by an integer millisecond
    duration (row product <= ~4e16, inside BIGINT), and accumulated in
    DECIMAL(38,0) — the xq7 integer-cents contract — so both engines sum
    the identical integers; doubles appear only at the final division
    (IEEE-exact ops, ROUND_NOTES trap on libm does not apply)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.to_date("ts")).orderBy(
        "ts", "event_id"
    )
    iv = ev.select(
        F.to_date("ts").alias("day"),
        (
            (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts"))
            / F.lit(1000)
        ).cast("long").alias("dur_ms"),
        (F.col("value").cast("decimal(25,6)") * F.lit(1000000))
        .cast("long")
        .alias("val_micros"),
    ).where(F.col("dur_ms").isNotNull() & (F.col("dur_ms") > 0))
    return (
        iv.groupBy("day")
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum("dur_ms").alias("total_dur_ms"),
            F.round(
                F.sum(
                    (F.col("val_micros") * F.col("dur_ms")).cast(
                        "decimal(38,0)"
                    )
                ).cast("double")
                / F.lit(1000000.0)
                / F.sum("dur_ms").cast("double"),
                4,
            ).alias("twav"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_intervals",
            "total_dur_ms",
            "twav",
        )
    )


@register(
    "xq17_cusum_changepoint",
    f"""
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               COUNT(*) AS c
        FROM {EVENTS_US} GROUP BY event_type, CAST(ts AS DATE)),
    s AS (
        SELECT event_type, day, c,
               SUM(c) OVER (PARTITION BY event_type ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS prefix,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
                 AS k,
               SUM(c) OVER (PARTITION BY event_type) AS total,
               COUNT(*) OVER (PARTITION BY event_type) AS n_days
        FROM d),
    z AS (
        SELECT event_type, day,
               CAST(n_days * prefix - k * total AS BIGINT) AS cusum_stat,
               CAST(n_days AS BIGINT) AS n_days,
               CAST(total AS BIGINT) AS total_events
        FROM s)
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           cusum_stat, n_days, total_events
    FROM z
    QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY abs(cusum_stat) DESC, day) = 1
    """,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint candidate per event type: the day where the
    cumulative deviation of daily counts from the series' mean rate
    peaks — the classic level-shift detector for rate monitoring.

    Integer-exact: the textbook statistic max_k |prefix_k - k*mean|
    divides by n_days; multiplying through by n_days gives
    n_days*prefix_k - k*total, which stays in BIGINT (n_days <= calendar
    size, prefix <= total <= row count) — both engines compare identical
    integers, so argmax and tie-break (earliest day) are bit-stable.
    Scale shape: the raw scan collapses to (event_type × day) rows in
    one map-side-combined aggregate; every window after that runs over
    calendar-bounded partitions (<= ~365 rows per event type), the same
    boundedness pin as xq13's week histograms.  No libm anywhere."""
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("c"))
    wt = Window.partitionBy("event_type")
    wo = wt.orderBy("day")
    s = d.select(
        "event_type",
        "day",
        F.sum("c").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "prefix"
        ),
        F.row_number().over(wo).alias("k"),
        F.sum("c").over(wt).alias("total"),
        F.count("*").over(wt).alias("n_days"),
    )
    z = s.select(
        "event_type",
        "day",
        (F.col("n_days") * F.col("prefix") - F.col("k") * F.col("total"))
        .cast("long")
        .alias("cusum_stat"),
        F.col("n_days").cast("long").alias("n_days"),
        F.col("total").cast("long").alias("total_events"),
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum_stat")).desc(), "day"
    )
    return (
        z.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "cusum_stat",
            "n_days",
            "total_events",
        )
    )


@register(
    "x29_kmv_set_overlap",
    """
    WITH tu AS (SELECT DISTINCT event_type, user_id FROM events)
    SELECT a.event_type AS et_a, b.event_type AS et_b,
           CAST(COUNT(*) AS BIGINT) AS exact_inter,
           TRUE AS kmv_ok
    FROM tu a JOIN tu b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
    """,
)
def q_kmv_set_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user overlap between every event-type pair, estimated
    from KMV bottom-k sketches (operators/sketch.py::kmv_sketch) and
    verified against the exact intersection — the set operation HLL
    cannot answer (HLL unions; KMV/theta intersects).

    Contract arm (this registration): both the sketch estimate and the
    exact self-join run; kmv_ok asserts relative error < 0.35 (k=256 ⇒
    rse ≈ 1/√(k−1) ≈ 6.3% on the union, inflated by the Jaccard factor
    on intersections).  The exact arm is distinct-pairs-bounded here;
    at 100 TB only the sketch side runs — (groups × k) state, built with
    WindowGroupLimit partial top-k, merged with array ops on 5 rows."""
    from ..operators.sketch import kmv_overlap, kmv_sketch

    K = 256
    ev = table(spark, sf_dir, "events")
    sk = kmv_sketch(ev, "event_type", "user_id", k=K)
    est = kmv_overlap(sk, k=K)
    tu = ev.select("event_type", "user_id").distinct()
    a = tu.select(F.col("event_type").alias("et_a"), "user_id")
    b = tu.select(F.col("event_type").alias("et_b"), "user_id")
    exact = (
        a.join(b, "user_id")
        .where(F.col("et_a") < F.col("et_b"))
        .groupBy("et_a", "et_b")
        .agg(F.count("*").alias("exact_inter"))
    )
    joined = exact.join(
        est,
        (F.col("et_a") == F.col("g_a")) & (F.col("et_b") == F.col("g_b")),
    )
    rel_err = F.abs(
        F.col("est_inter") - F.col("exact_inter").cast("double")
    ) / F.greatest(F.col("exact_inter").cast("double"), F.lit(1.0))
    return joined.select(
        "et_a", "et_b", "exact_inter", (rel_err < 0.35).alias("kmv_ok")
    )


@register(
    "xq18_ohlc_bars",
    f"""
    SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           first(value ORDER BY ts, event_id) AS open,
           first(value ORDER BY ts DESC, event_id DESC) AS close,
           MIN(value) AS low, MAX(value) AS high,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND((first(value ORDER BY ts DESC, event_id DESC)
                  - first(value ORDER BY ts, event_id))
                 / first(value ORDER BY ts, event_id), 6) AS day_return
    FROM {EVENTS_US}
    GROUP BY event_type, CAST(ts AS DATE)
    """,
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC resampling bars per (series, day) — the canonical financial
    downsample, here over event values: open/close are the first/last
    observation by (ts, event_id), high/low the extremes.

    Scale shape: ONE map-side-combined aggregate — min_by/max_by over a
    (ts, event_id) struct key are ordinary partial-mergeable aggregates,
    so no window, no sort, no per-group buffering (the naive
    row_number()-per-group form would window over every raw event).
    The struct tie-break makes first/last total-ordered, so both engines
    pick identical rows; open/close/low/high are the SAME float64s bit-
    for-bit (no arithmetic), and day_return is one IEEE-exact division."""
    ev = table(spark, sf_dir, "events")
    key = F.struct("ts", "event_id")
    agg = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.min_by("value", key).alias("open"),
        F.max_by("value", key).alias("close"),
        F.min("value").alias("low"),
        F.max("value").alias("high"),
        F.count("*").alias("n"),
    )
    return agg.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "open",
        "close",
        "low",
        "high",
        "n",
        F.round(
            (F.col("close") - F.col("open")) / F.col("open"), 6
        ).alias("day_return"),
    )


@register(
    "xq19_forecast_backtest",
    f"""
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        FROM {EVENTS_US} GROUP BY event_type, CAST(ts AS DATE)),
    j AS (
        SELECT a.event_type, a.day, a.c, b.c AS pred
        FROM d a JOIN d b
          ON b.event_type = a.event_type AND b.day = a.day - 7)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days_scored,
           CAST(SUM(abs(c - pred)) AS BIGINT) AS total_abs_err,
           CAST(SUM(c) AS BIGINT) AS total_actual,
           ROUND(CAST(SUM(abs(c - pred)) AS DOUBLE)
                 / CAST(SUM(c) AS DOUBLE), 6) AS wape
    FROM j GROUP BY event_type
    """,
)
def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecast (predict today = same
    weekday last week) with WAPE — the standard baseline every real
    forecasting pipeline must beat, and the standard robust error metric
    (weighted absolute percentage error: Σ|err| / Σactual, no per-day
    division blowups on small counts).

    Integer-exact: both the error mass and the actual mass accumulate as
    BIGINTs; the single final division is IEEE-exact, so WAPE matches
    DuckDB bit-for-bit.  Scale shape: the raw scan collapses to
    (type × day) rows in one map-side-combined aggregate; the lag-7 join
    is an equi-join on (type, day-7) over calendar-bounded rows — no
    window, no sort, no self-join over raw events."""
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("c"))
    b = d.select(
        "event_type",
        F.date_add("day", 7).alias("day"),
        F.col("c").alias("pred"),
    )
    j = d.join(b, ["event_type", "day"])
    return j.groupBy("event_type").agg(
        F.count("*").alias("n_days_scored"),
        F.sum(F.abs(F.col("c") - F.col("pred"))).alias("total_abs_err"),
        F.sum("c").alias("total_actual"),
        F.round(
            F.sum(F.abs(F.col("c") - F.col("pred"))).cast("double")
            / F.sum("c").cast("double"),
            6,
        ).alias("wape"),
    )


@register(
    "xq21_survival_km",
    """
    WITH j AS (
        SELECT datediff('day', o.o_orderdate, l.l_shipdate) // 7 AS tw,
               datediff('day', o.o_orderdate, DATE '1998-06-01') // 7
                 AS cw,
               l.l_shipdate <= DATE '1998-06-01' AS shipped
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate <= DATE '1998-06-01'
          AND l.l_shipdate >= o.o_orderdate),
    lif AS (
        SELECT CASE WHEN shipped THEN tw ELSE cw END AS t, shipped
        FROM j),
    dur AS (
        SELECT t, CAST(COUNT(*) FILTER (WHERE shipped) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS ending
        FROM lif GROUP BY t),
    risk AS (
        SELECT t, d,
               CAST(SUM(ending) OVER (ORDER BY t DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_at_risk
        FROM dur),
    ev AS (SELECT t, d, n_at_risk FROM risk WHERE d > 0),
    rs AS (
        SELECT list(CAST(1.0 AS DOUBLE) - CAST(d AS DOUBLE)
                    / CAST(n_at_risk AS DOUBLE) ORDER BY t) AS r
        FROM ev),
    ranked AS (
        SELECT t, d, n_at_risk,
               CAST(ROW_NUMBER() OVER (ORDER BY t) AS INT) AS i
        FROM ev)
    SELECT CAST(ranked.t AS BIGINT) AS t_weeks, ranked.d AS n_shipped,
           ranked.n_at_risk,
           ROUND(list_reduce(list_slice(rs.r, 1, ranked.i),
                             (a, b) -> a * b), 8) AS survival
    FROM ranked, rs
    """,
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier curve of order-fulfillment time, snapshotted at
    1998-06-01: a lineitem whose ship date falls after the snapshot is
    RIGHT-CENSORED at its order's age (we only know it took longer than
    that) — the estimator the naive 'percent shipped by week w' gets
    wrong whenever recent orders haven't had time to ship.  ~half the
    in-scope lines are censored here, so the correction is live.
    Durations are weeks; negative synthetic durations (this testdata's
    ship dates are independent of order dates) are filtered and
    documented rather than clamped.

    Exactness without libm: the cumulative survival PRODUCT is usually
    exp(Σ log) — banned (libm drift).  The KM table is bounded (≤ ~360
    week rows), so both engines multiply the SAME IEEE doubles in the
    SAME ascending order — Spark via aggregate(slice(sorted ratios)),
    DuckDB via list_reduce(list_slice(...)) — bit-identical curves.
    Scale shape: one order-keyed join (co-partitioned at 100 TB), one
    map-side-combined duration rollup; every window/product runs on the
    calendar-bounded KM frame."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    snap = F.lit("1998-06-01").cast("date")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(
            (F.col("o_orderdate") <= snap)
            & (F.col("l_shipdate") >= F.col("o_orderdate"))
        )
        .select(
            F.expr(
                "CAST(datediff(l_shipdate, o_orderdate) div 7 AS BIGINT)"
            ).alias("tw"),
            F.expr(
                "CAST(datediff(DATE'1998-06-01', o_orderdate) div 7"
                " AS BIGINT)"
            ).alias("cw"),
            (F.col("l_shipdate") <= snap).alias("shipped"),
        )
    )
    lif = j.select(
        F.when(F.col("shipped"), F.col("tw")).otherwise(F.col("cw")).alias(
            "t"
        ),
        "shipped",
    )
    dur = lif.groupBy("t").agg(
        F.sum(F.col("shipped").cast("long")).alias("d"),
        F.count("*").alias("ending"),
    )
    w = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = dur.select(
        "t", "d", F.sum("ending").over(w).alias("n_at_risk")
    ).where(F.col("d") > 0)
    ratio = F.lit(1.0) - F.col("d").cast("double") / F.col(
        "n_at_risk"
    ).cast("double")
    packed = risk.select("t", "d", "n_at_risk", ratio.alias("r")).agg(
        F.sort_array(
            F.collect_list(F.struct("t", "d", "n_at_risk", "r"))
        ).alias("arr")
    )
    return packed.select(
        F.posexplode("arr").alias("i0", "s"), F.col("arr")
    ).select(
        F.col("s.t").alias("t_weeks"),
        F.col("s.d").alias("n_shipped"),
        F.col("s.n_at_risk").alias("n_at_risk"),
        F.round(
            F.expr(
                "aggregate(slice(transform(arr, x -> x.r), 1, i0 + 1),"
                " CAST(1.0 AS DOUBLE), (a, x) -> a * x)"
            ),
            8,
        ).alias("survival"),
    )


@register(
    "xq22_dau_mau_stickiness",
    f"""
    WITH a AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM {EVENTS_US}),
    d AS (SELECT DISTINCT day FROM a),
    dau AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM a GROUP BY day),
    m AS (
        SELECT a.user_id, d.day AS window_day
        FROM a JOIN d ON d.day BETWEEN a.day AND a.day + 27),
    mau AS (
        SELECT window_day AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT)
          AS mau
        FROM m GROUP BY window_day)
    SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, mau.mau,
           ROUND(CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE), 6)
             AS stickiness
    FROM dau JOIN mau ON dau.day = mau.day
    """,
)
def q_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day — the growth-team staple ('what share
    of the monthly audience shows up daily').  MAU is a trailing-28-day
    distinct count, the same unsupported-window problem as x17b's WAU,
    rewritten the same way: each (user, active-day) pair fans out to the
    ≤28 window days it contributes to (fixed fan-out, never a range
    join), then an ordinary two-phase distinct count per window day.
    DAU is a plain per-day distinct; the ratio is one IEEE division.
    Shuffles: the (user, day) dedup and two keyed counts — all linear,
    all key-uniform; the day spine is calendar-sized and broadcast."""
    ev = table(spark, sf_dir, "events")
    # three consumers (DAU agg, day spine, 28-day fan-out) —
    # materialize the deduped activity frame once
    active = materialize(
        ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    )
    dau = active.groupBy("day").agg(F.count("*").alias("dau"))
    spine = active.select("day").distinct().withColumnRenamed(
        "day", "window_day"
    )
    fanned = active.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.date_add("day", 27))).alias(
            "window_day"
        ),
    )
    mau = (
        fanned.join(F.broadcast(spine), "window_day")
        .groupBy("window_day")
        .agg(F.countDistinct("user_id").alias("mau"))
        .withColumnRenamed("window_day", "day")
    )
    return dau.join(mau, "day").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "dau",
        "mau",
        F.round(
            F.col("dau").cast("double") / F.col("mau").cast("double"), 6
        ).alias("stickiness"),
    )


@register(
    "xq27_growth_accounting",
    f"""
    WITH a AS (
        SELECT DISTINCT user_id,
               date_trunc('week', CAST(ts AS DATE)) AS wk
        FROM {EVENTS_US}),
    fw AS (SELECT user_id, MIN(wk) AS first_wk FROM a GROUP BY user_id),
    cur AS (
        SELECT a.user_id, a.wk, fw.first_wk,
               p.user_id IS NOT NULL AS active_prev
        FROM a JOIN fw USING (user_id)
        LEFT JOIN a p ON p.user_id = a.user_id
                     AND p.wk = a.wk - INTERVAL 7 DAY),
    churn AS (
        SELECT a.wk + INTERVAL 7 DAY AS wk,
               CAST(COUNT(*) AS BIGINT) AS n_churned
        FROM a LEFT JOIN a n ON n.user_id = a.user_id
                            AND n.wk = a.wk + INTERVAL 7 DAY
        WHERE n.user_id IS NULL
        GROUP BY a.wk + INTERVAL 7 DAY),
    agg AS (
        SELECT wk,
               CAST(COUNT(*) FILTER (WHERE first_wk = wk) AS BIGINT)
                 AS n_new,
               CAST(COUNT(*) FILTER (WHERE active_prev) AS BIGINT)
                 AS n_retained,
               CAST(COUNT(*) FILTER (WHERE first_wk < wk
                                       AND NOT active_prev) AS BIGINT)
                 AS n_resurrected,
               CAST(COUNT(*) AS BIGINT) AS n_active
        FROM cur GROUP BY wk)
    SELECT strftime(CAST(agg.wk AS DATE), '%Y-%m-%d') AS week,
           n_active, n_new, n_retained, n_resurrected,
           CAST(COALESCE(churn.n_churned, 0) AS BIGINT) AS n_churned
    FROM agg LEFT JOIN churn ON churn.wk = agg.wk
    """,
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting: every active user classified as NEW
    (first week), RETAINED (also active last week) or RESURRECTED
    (returning after a gap), plus the users CHURNED out of the previous
    week — the standard MAU-decomposition framework behind 'where did
    growth come from'.  Identity: new + retained + resurrected =
    actives (pinned in test).

    Scale shape: the (user, week) activity frame dedups once; prior-
    week membership and churn are self equi-joins on (user_id, shifted
    week) — co-partitioned on the high-cardinality user key, never a
    window over the calendar; first-week is one groupBy(user).  All
    outputs are exact BIGINT counts over calendar-bounded weeks."""
    ev = table(spark, sf_dir, "events")
    # five consumers (first-week agg, current, prev, next, churn) —
    # materialize the deduped activity frame once (xq7/xq11 lesson)
    a = materialize(
        ev.select("user_id", F.trunc(F.to_date("ts"), "week").alias("wk"))
        .distinct()
    )
    fw = a.groupBy("user_id").agg(F.min("wk").alias("first_wk"))
    prev = a.select(
        "user_id", F.date_add("wk", 7).alias("wk"), F.lit(True).alias("ap")
    )
    cur = (
        a.join(fw, "user_id")
        .join(prev, ["user_id", "wk"], "left")
        .withColumn("active_prev", F.coalesce(F.col("ap"), F.lit(False)))
    )
    nxt = a.select(
        "user_id", F.date_sub("wk", 7).alias("wk"), F.lit(True).alias("an")
    )
    churn = (
        a.join(nxt, ["user_id", "wk"], "left")
        .where(F.col("an").isNull())
        .groupBy(F.date_add("wk", 7).alias("wk"))
        .agg(F.count("*").alias("n_churned"))
    )
    agg = cur.groupBy("wk").agg(
        F.sum((F.col("first_wk") == F.col("wk")).cast("long")).alias(
            "n_new"
        ),
        F.sum(F.col("active_prev").cast("long")).alias("n_retained"),
        F.sum(
            (
                (F.col("first_wk") < F.col("wk")) & ~F.col("active_prev")
            ).cast("long")
        ).alias("n_resurrected"),
        F.count("*").alias("n_active"),
    )
    return agg.join(churn, "wk", "left").select(
        F.date_format("wk", "yyyy-MM-dd").alias("week"),
        "n_active",
        "n_new",
        "n_retained",
        "n_resurrected",
        F.coalesce(F.col("n_churned"), F.lit(0)).cast("long").alias(
            "n_churned"
        ),
    )


@register(
    "xq28_seasonality_strength",
    f"""
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM {EVENTS_US} GROUP BY event_type, CAST(ts AS DATE)),
    dw AS (
        SELECT event_type,
               datediff('day', DATE '2024-01-01', day) % 7 AS dow,
               CAST(COUNT(*) AS BIGINT) AS n_d,
               CAST(SUM(c) AS BIGINT) AS s_d
        FROM d GROUP BY event_type, datediff('day', DATE '2024-01-01', day) % 7),
    tot AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS s,
               CAST(SUM(c * c) AS BIGINT) AS ss
        FROM d GROUP BY event_type),
    folded AS (
        SELECT event_type,
               list_reduce(
                   list(CAST(s_d AS DOUBLE) * CAST(s_d AS DOUBLE)
                        / CAST(n_d AS DOUBLE) ORDER BY dow),
                   (a, b) -> a + b) AS between_raw
        FROM dw GROUP BY event_type)
    SELECT tot.event_type,
           tot.n AS n_days,
           ROUND((folded.between_raw
                  - CAST(tot.s AS DOUBLE) * CAST(tot.s AS DOUBLE)
                    / CAST(tot.n AS DOUBLE))
                 / (CAST(tot.ss AS DOUBLE)
                    - CAST(tot.s AS DOUBLE) * CAST(tot.s AS DOUBLE)
                      / CAST(tot.n AS DOUBLE)), 6) AS seasonality_strength
    FROM tot JOIN folded ON folded.event_type = tot.event_type
    """,
)
def q_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality strength per series: the share of daily-
    count variance explained by the weekday profile (between-group sum
    of squares over total — the eta-squared forecastability score that
    says whether a weekly-seasonal model is worth fitting).

    Dialect-free weekday: dow = datediff(day, fixed anchor) % 7 — both
    engines' native dayofweek() disagree on the week start (ROUND_NOTES
    trap 6), date arithmetic doesn't.  Exactness: all sums-of-squares
    accumulate as BIGINTs; the one order-sensitive float reduction
    (Σ s_d²/n_d over the 7 weekday terms) folds over a dow-SORTED array
    on both engines (Spark aggregate() over sort_array, DuckDB
    list_reduce over an ordered list — the xq21 product trick, applied
    to a sum), so the statistic is bit-identical.  Scale shape: raw
    events collapse to (type, day) in one map-side-combined aggregate;
    everything after runs on calendar-bounded frames."""
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("c"))
    anchor = F.lit("2024-01-01").cast("date")
    dw = d.groupBy(
        "event_type",
        (F.datediff(F.col("day"), anchor) % 7).alias("dow"),
    ).agg(F.count("*").alias("n_d"), F.sum("c").alias("s_d"))
    folded = (
        dw.select(
            "event_type",
            F.struct(
                "dow",
                (
                    F.col("s_d").cast("double")
                    * F.col("s_d").cast("double")
                    / F.col("n_d").cast("double")
                ).alias("term"),
            ).alias("e"),
        )
        .groupBy("event_type")
        .agg(
            F.expr(
                "aggregate(transform(array_sort(collect_list(e)),"
                " x -> x.term), CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
            ).alias("between_raw")
        )
    )
    tot = d.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    sd, nd = F.col("s").cast("double"), F.col("n").cast("double")
    ssd = F.col("ss").cast("double")
    return tot.join(folded, "event_type").select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(
            (F.col("between_raw") - sd * sd / nd) / (ssd - sd * sd / nd),
            6,
        ).alias("seasonality_strength"),
    )


@register(
    "x32_log2_histogram",
    f"""
    WITH c AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM {EVENTS_US} WHERE value > 0),
    b AS (
        SELECT event_type,
               CAST(length(bin(cents)) - 1 AS INTEGER) AS bin_id,
               cents
        FROM c)
    SELECT event_type, bin_id,
           (CAST(1 AS BIGINT) << bin_id) AS lo_cents,
           ((CAST(1 AS BIGINT) << (bin_id + 1)) - 1) AS hi_cents,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS cents_mass
    FROM b GROUP BY event_type, bin_id
    """,
)
def q_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-spaced (power-of-two) histogram of event values per type —
    the latency/size-distribution workhorse (hdr-histogram shape):
    exponentially wider bins give constant relative resolution, and the
    per-bin partials are mergeable (SUM/COUNT), so day→month rollups
    re-aggregate like xq13's fixed-bin sketch but cover a huge dynamic
    range with ~60 bins.

    Integer-exact binning without libm: value becomes exact cents
    (DECIMAL(18,2)·100 → BIGINT), and floor(log2(x)) for a positive
    integer is length(bin(x)) − 1 — the minimal binary-string length,
    identical on both engines — never a floating log.  Bin bounds are
    shiftleft arithmetic.  Scale shape: ONE map-side-combined aggregate;
    output is (types × ~16) rows."""
    ev = table(spark, sf_dir, "events").where(F.col("value") > 0)
    c = ev.select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    b = c.select(
        "event_type",
        (F.length(F.bin("cents")) - 1).cast("int").alias("bin_id"),
        "cents",
    )
    return b.groupBy("event_type", "bin_id").agg(
        F.expr("CAST(shiftleft(CAST(1 AS BIGINT), bin_id) AS BIGINT)").alias(
            "lo_cents"
        ),
        F.expr(
            "CAST(shiftleft(CAST(1 AS BIGINT), bin_id + 1) - 1 AS BIGINT)"
        ).alias("hi_cents"),
        F.count("*").alias("n"),
        F.sum("cents").alias("cents_mass"),
    )


@register(
    "xq37_holt_trend_forecast",
    f"""
    WITH RECURSIVE d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM {EVENTS_US} GROUP BY event_type, CAST(ts AS DATE)),
    r AS (
        SELECT event_type, c,
               CAST(row_number() OVER (PARTITION BY event_type
                                       ORDER BY day) AS INTEGER) AS t,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS INTEGER)
                 AS n
        FROM d),
    h AS (
        SELECT a.event_type, 1 AS t,
               CAST(a.c AS DOUBLE) AS l,
               CAST(b.c AS DOUBLE) - CAST(a.c AS DOUBLE) AS tr,
               a.n
        FROM r a JOIN r b ON b.event_type = a.event_type AND b.t = 2
        WHERE a.t = 1 AND a.n >= 2
        UNION ALL
        SELECT h.event_type, h.t + 1,
               0.5 * CAST(r.c AS DOUBLE) + 0.5 * (h.l + h.tr),
               0.25 * ((0.5 * CAST(r.c AS DOUBLE) + 0.5 * (h.l + h.tr))
                       - h.l) + 0.75 * h.tr,
               h.n
        FROM h JOIN r ON r.event_type = h.event_type AND r.t = h.t + 1)
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           ROUND(l, 6) AS level, ROUND(tr, 6) AS trend,
           ROUND(l + tr, 6) AS forecast_next
    FROM h WHERE t = n
    """,
)
def q_holt_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend) over each
    series' daily counts, with the one-step-ahead forecast — the
    standard next rung above xq19's seasonal-naive baseline.
    alpha = 0.5, beta = 0.25 (binary-exact literals).

    An inherently SEQUENTIAL recurrence, bit-exact on both engines via
    the bounded-fold contract (the xq21/xq28 family): the day series
    per type is calendar-bounded, so Spark folds a day-sorted array
    with aggregate() carrying a (level, trend) struct accumulator,
    while the oracle runs the identical recurrence as a RECURSIVE CTE
    — both evaluate the SAME IEEE expression tree in the SAME order,
    so the hash-match needs no tolerance.  (l_t appears twice in the
    b_t update; both engines repeat the identical subexpression.)

    Scale shape: the raw scan collapses to (type, day) in one
    map-side-combined aggregate; the fold runs per type over <= ~365
    elements — never over raw events.  Types with < 2 days are
    excluded (the trend needs two points)."""
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("c"))
    arr = (
        d.groupBy("event_type")
        .agg(
            F.array_sort(F.collect_list(F.struct("day", "c"))).alias("s")
        )
        .where(F.size("s") >= 2)
    )
    folded = arr.select(
        "event_type",
        F.size("s").cast("long").alias("n_days"),
        F.expr(
            """
            aggregate(
              slice(s, 2, size(s) - 1),
              named_struct(
                'l', CAST(s[0].c AS DOUBLE),
                'tr', CAST(s[1].c AS DOUBLE) - CAST(s[0].c AS DOUBLE)),
              (acc, e) -> named_struct(
                'l', 0.5D * CAST(e.c AS DOUBLE) + 0.5D * (acc.l + acc.tr),
                'tr', 0.25D * ((0.5D * CAST(e.c AS DOUBLE)
                                + 0.5D * (acc.l + acc.tr)) - acc.l)
                      + 0.75D * acc.tr))
            """
        ).alias("st"),
    )
    return folded.select(
        "event_type",
        "n_days",
        F.round(F.col("st.l"), 6).alias("level"),
        F.round(F.col("st.tr"), 6).alias("trend"),
        F.round(F.col("st.l") + F.col("st.tr"), 6).alias("forecast_next"),
    )


@register(
    "xq38_activity_streaks",
    f"""
    WITH a AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM {EVENTS_US}),
    g AS (
        SELECT user_id, day,
               day - CAST(row_number() OVER (PARTITION BY user_id
                                             ORDER BY day) AS INTEGER)
                 AS grp
        FROM a),
    runs AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS streak_len
        FROM g GROUP BY user_id, grp),
    per_user AS (
        SELECT user_id, CAST(MAX(streak_len) AS BIGINT) AS longest,
               CAST(COUNT(*) AS BIGINT) AS n_streaks
        FROM runs GROUP BY user_id)
    SELECT longest AS streak_days,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n_streaks) AS BIGINT) AS total_streaks
    FROM per_user GROUP BY longest
    """,
)
def q_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity streaks (gaps-and-islands): per user,
    maximal runs of consecutive active days; output is the distribution
    of longest-streak lengths — the engagement metric behind "N-day
    streak" product features.

    The classic islands trick, distributed: within a user, day minus
    the day's per-user row_number is CONSTANT exactly along a
    consecutive run (both advance by 1/day), so one window partitioned
    by user + two keyed aggregates find every island — no self-join, no
    iteration.  The window partitions on the high-cardinality user key
    (millions of small partitions at 100 TB, never a global sort);
    both rollups are map-side combined; the output is bounded by the
    calendar (max streak <= observed days)."""
    ev = table(spark, sf_dir, "events")
    a = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    g = a.select(
        "user_id",
        "day",
        F.date_sub("day", F.row_number().over(w)).alias("grp"),
    )
    runs = g.groupBy("user_id", "grp").agg(
        F.count("*").alias("streak_len")
    )
    per_user = runs.groupBy("user_id").agg(
        F.max("streak_len").alias("longest"),
        F.count("*").alias("n_streaks"),
    )
    return per_user.groupBy(
        F.col("longest").alias("streak_days")
    ).agg(
        F.count("*").alias("n_users"),
        F.sum("n_streaks").alias("total_streaks"),
    )


def _cms_sk_sql(src: str, key: str, width: int) -> str:
    """DuckDB twin of the cms_join_size sketch build: 3 CW seeds."""
    from ..functions.hashing import cw_bucket_sql

    arms = " UNION ALL ".join(
        f"SELECT {d} AS d, {cw_bucket_sql(key, d, width)} AS bkt FROM {src}"
        for d in (1, 2, 3)
    )
    return f"SELECT d, bkt, CAST(count(*) AS BIGINT) AS c FROM ({arms}) GROUP BY d, bkt"


_CMS_W = 8192


@register(
    "x38_cms_join_size",
    f"""
    WITH a AS (SELECT o_orderkey AS k FROM orders WHERE o_orderstatus = 'O'),
    b AS (SELECT l_orderkey AS k FROM lineitem WHERE l_returnflag = 'R'),
    sa AS ({{SA}}),
    sb AS ({{SB}}),
    ip AS (
        SELECT sa.d, SUM(sa.c * sb.c) AS ip
        FROM sa JOIN sb ON sa.d = sb.d AND sa.bkt = sb.bkt
        GROUP BY sa.d),
    est AS (
        -- a depth with zero overlapping buckets emits no ip row; its
        -- inner product is 0, so the min over ALL depths is then 0
        SELECT CAST(CASE WHEN COUNT(*) < 3 THEN 0 ELSE MIN(ip) END
                    AS BIGINT) AS est_join_size FROM ip),
    ex AS (
        SELECT CAST(count(*) AS BIGINT) AS exact_join_size,
               (SELECT count(*) FROM a) * (SELECT count(*) FROM b) AS nn
        FROM a JOIN b USING (k))
    SELECT est.est_join_size, ex.exact_join_size,
           (est.est_join_size >= ex.exact_join_size AND
            CAST(est.est_join_size AS DOUBLE) <=
            CAST(ex.exact_join_size AS DOUBLE)
              + 2.718281828459045 / {_CMS_W} * CAST(ex.nn AS DOUBLE))
             AS cms_ok
    FROM est, ex
    """.replace("{SA}", _cms_sk_sql("a", "k", _CMS_W))
    .replace("{SB}", _cms_sk_sql("b", "k", _CMS_W)),
)
def q_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from Count-Min sketches — the query
    PLANNER primitive: |σ(orders) ⋈ σ(lineitem)| predicted from two
    depth×width counter tables (operators/sketch.py::cms_join_size, CMS
    inner product, min over depths) without shuffling either side.

    Contract arm (this registration): the exact join count and the
    bound check est ≥ exact ∧ est ≤ exact + (e/width)·|A|·|B| run
    alongside; the estimate itself must match the oracle EXACTLY (the
    CW hash family is bit-identical across engines), so this is a
    hash-match row, not a tolerance row.  At 100 TB only the sketch
    side runs: two map-side-combined aggregates of ≤ 3×{_CMS_W} rows
    each."""
    from ..operators.sketch import cms_join_size

    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    a = orders.where(F.col("o_orderstatus") == "O").select(
        F.col("o_orderkey").alias("k")
    )
    b = li.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("k")
    )
    est = cms_join_size(a, b, "k", "k", width=_CMS_W, depth=3)
    exact = (
        a.join(b, "k")
        .agg(F.count("*").cast("long").alias("exact_join_size"))
        .crossJoin(
            F.broadcast(
                a.agg(F.count("*").alias("na")).crossJoin(
                    b.agg(F.count("*").alias("nb"))
                )
            )
        )
        .select("exact_join_size", (F.col("na") * F.col("nb")).alias("nn"))
    )
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            "est_join_size",
            "exact_join_size",
            (
                (F.col("est_join_size") >= F.col("exact_join_size"))
                & (
                    F.col("est_join_size").cast("double")
                    <= F.col("exact_join_size").cast("double")
                    + 2.718281828459045 / _CMS_W * F.col("nn").cast("double")
                )
            ).alias("cms_ok"),
        )
    )
