"""Event-stream batch analytics (SURVEY.md §2.11 x05-x09) on `events`.

The reference has no streaming surface (SURVEY.md §2.10); these are the
driver-mandated extensions, in batch form so each has a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.aggs import avg_exact, sum_exact
from ..operators.sessionize import session_stats
from ..registry import register
from ..sources.tables import table

# DuckDB view of `events` truncated to microseconds — Spark timestamps are
# micros, the parquet file is nanos; both engines must see identical values
# (see sources/tables.py).
EVENTS_US = """
    (SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
            user_id, event_type, value, props
     FROM events) events
"""


@register(
    "x05_sessionize_events",
    f"""
    SELECT user_id, session_seq, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
    FROM (
      SELECT user_id, ts,
             CAST(SUM(CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      FROM (SELECT user_id, ts,
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
            FROM {EVENTS_US}))
    GROUP BY user_id, session_seq
    """,
)
def q_x05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap): LAG + running SUM of
    new-session flags, partitioned by user — no global ordering anywhere."""
    ev = table(spark, sf_dir, "events")
    return session_stats(ev, gap_minutes=30)


@register(
    "x06_tumbling_hourly",
    f"""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM {EVENTS_US}
    GROUP BY 1, 2
    """,
)
def q_x06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation.  F.window('1 hour') start ==
    date_trunc('hour')."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            sum_exact("value", scale=6).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "x07_json_props_extract",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) AS DECIMAL(38,0))) AS BIGINT) AS sum_k,
           CAST(SUM(CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) AS DECIMAL(38,0))) AS DOUBLE)
             / COUNT(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS avg_k
    FROM events
    GROUP BY event_type
    """,
)
def q_x07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction (driver extension x07): get_json_object →
    typed aggregate.  At scale prefer from_json with an explicit schema once
    per pipeline; get_json_object re-parses per call."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k.cast("decimal(38,0)")).cast("bigint").alias("sum_k"),
        (F.sum(k.cast("decimal(38,0)")).cast("double") / F.count(k)).alias("avg_k"),
    )


@register(
    "x08_topk_per_key",
    """
    SELECT event_type, event_id, user_id, value
    FROM (SELECT event_type, event_id, user_id, value,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY value DESC, event_id) AS rn
          FROM events)
    WHERE rn <= 3
    """,  # ts-free: raw events view is fine
)
def q_x08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per key (x08): row_number window + filter; Spark rewrites the
    rn<=3 filter into a per-partition top-K (WindowGroupLimit) so no group
    is fully sorted."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        ev.select("event_type", "event_id", "user_id", "value",
                  F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


@register(
    "x09_count_distinct_users",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def q_x09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type (expanded two-phase aggregate)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.count("*").alias("n_events"),
    )


def approx_distinct_users(
    spark: SparkSession, sf_dir: str, verify: bool = False
) -> DataFrame:
    """HyperLogLog++ approximate distinct users (x09): constant memory per
    group at any scale — the 100 TB path where exact distinct shuffles
    every key.

    PRODUCTION path (``verify=False``, default): approx_count_distinct
    only — partial HLL sketches merge map-side, no per-key shuffle.
    VERIFY path (``verify=True``, registered oracle query only): adds the
    exact countDistinct ground truth in-plan and returns the
    bounded-oracle contract ``hll_ok`` = |approx − exact| ≤ 2.3%·exact
    (±2.3σ at rsd=0.01; measured error on this corpus ≤0.7%)."""
    ev = table(spark, sf_dir, "events")
    if not verify:
        return ev.groupBy("event_type").agg(
            F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users")
        )
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 0.023 * F.col("exact_users")
            ).alias("hll_ok"),
        )
    )


@register(
    "x09_approx_count_distinct",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS hll_ok
    FROM events GROUP BY event_type
    """,
)
def q_x09_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle registration for ``approx_distinct_users`` — VERIFY arm so
    DuckDB can assert the HLL bound; bench/production use the sketch-only
    ``verify=False`` path."""
    return approx_distinct_users(spark, sf_dir, verify=True)


@register(
    "x05b_asof_join_purchase_view",
    f"""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           v.ts AS last_view_ts, v.view_value
    FROM (SELECT event_id, user_id, ts FROM {EVENTS_US}
          WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (
        SELECT user_id, ts, MAX(value) AS view_value
        FROM {EVENTS_US} WHERE event_type = 'view' GROUP BY user_id, ts) v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
)
def q_x05b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (most recent 'view' at or before each 'purchase', per
    user).  Spark lacks a native as-of join; scalable composition: tag both
    sides, UNION, one window pass per user ordered by (ts, side) carrying
    last non-null view attrs forward, then keep purchases.  One shuffle on
    user_id, no per-group pandas.  Oracle: DuckDB's native ASOF JOIN.

    Views are pre-deduped to one row per (user, ts) (MAX(value)) so the
    tie semantics are well-defined on both engines.
    """
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts")
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    # side=0 sorts views before purchases at equal ts → '<=' semantics
    tagged = views.select(
        "user_id", "ts", F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("purchase_id"),
        F.col("ts").alias("view_ts"), "view_value",
    ).unionByName(
        purchases.select(
            "user_id", "ts", F.lit(1).alias("side"), "purchase_id",
            F.lit(None).cast("timestamp").alias("view_ts"),
            F.lit(None).cast("double").alias("view_value"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        tagged.withColumn("last_view_ts", F.last("view_ts", ignorenulls=True).over(w))
        .withColumn("last_view_value", F.last("view_value", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select(
            "purchase_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "last_view_ts",
            F.col("last_view_value").alias("view_value"),
        )
    )


@register(
    "x06b_sliding_window",
    f"""
    SELECT make_timestamp(base_us - k.k * 1800000000) AS window_start,
           event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM (SELECT (epoch_us(ts) // 1800000000) * 1800000000 AS base_us,
                 event_type, value
          FROM {EVENTS_US}) e,
         (SELECT unnest([CAST(0 AS BIGINT), CAST(1 AS BIGINT)]) AS k) k
    GROUP BY 1, 2
    """,
)
def q_x06b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation (1-hour window, 30-minute slide): every
    event lands in exactly window/slide = 2 windows.  F.window emits both
    assignments as generated rows (map-side, no extra shuffle beyond the
    aggregate); the oracle reproduces the assignment arithmetic with an
    explicit 2-element unnest."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            sum_exact("value", scale=6).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "x08b_decile_stats",
    f"""
    SELECT decile, COUNT(*) AS n,
           MIN(value) AS min_v, MAX(value) AS max_v,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_v
    FROM (SELECT value,
                 ntile(10) OVER (ORDER BY value, event_id) AS decile
          FROM {EVENTS_US})
    GROUP BY decile
    ORDER BY decile
    """,
)
def q_x08b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency decile bucketing via ntile — distribution profiling
    of a numeric feature.  The (value, event_id) order key makes tie
    assignment deterministic on both engines.  NB: ntile needs a global
    order (single-partition Window) — fine for profiling samples; for the
    full 100 TB corpus use approx_percentile cutpoints instead
    (registered as `approx_percentiles`)."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "decile", F.ntile(10).over(W.orderBy("value", "event_id"))
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
            sum_exact("value", scale=6).alias("sum_v"),
        )
        .orderBy("decile")
    )


@register(
    "x09b_cms_user_frequency",
    """
    SELECT user_id, COUNT(*) AS true_freq, TRUE AS cms_ok
    FROM events GROUP BY user_id
    """,
)
def q_x09b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimates for every user (x09 companion:
    approx_count_distinct answers "how many users", the CMS answers "how
    often does THIS user appear" in sketch space).  The sketch shuffle is
    ≤ depth×width rows regardless of event volume.

    Bounded-oracle contract: the estimate is hash-seeded, so the query
    returns the exact frequency plus ``cms_ok`` = (est ≥ true AND
    est ≤ true + ε·N) with ε = e/width — the classic CMS one-sided
    guarantee, checked per key (measured overshoot ≤ 0.8·ε·N on this
    corpus).  The oracle recomputes true frequencies and asserts the
    bound held.  The same bounds are asserted against exact counts in
    tests/test_dedup_similarity.py::test_cms_bounds."""
    import math

    from ..operators.sketch import WIDTH, cms_build, cms_estimate

    ev = table(spark, sf_dir, "events")
    sketch = cms_build(ev, "user_id")
    users = ev.select("user_id").distinct()
    est = cms_estimate(sketch, users, "user_id")
    true = ev.groupBy("user_id").agg(F.count("*").alias("true_freq"))
    total = ev.agg(F.count("*").alias("n_total"))
    eps = math.e / WIDTH
    return (
        est.join(true, "user_id")
        .crossJoin(F.broadcast(total))
        .select(
            "user_id",
            "true_freq",
            (
                (F.col("est_count") >= F.col("true_freq"))
                & (
                    F.col("est_count")
                    <= F.col("true_freq") + eps * F.col("n_total")
                )
            ).alias("cms_ok"),
        )
    )


@register(
    "x11_funnel_conversion",
    f"""
    WITH stages AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
        FROM {EVENTS_US} GROUP BY user_id),
    flags AS (
        SELECT user_id,
               (t_view IS NOT NULL) AS s1,
               (t_view IS NOT NULL AND t_click > t_view) AS s2,
               (t_view IS NOT NULL AND t_click > t_view AND t_buy > t_click)
                 AS s3
        FROM stages)
    SELECT CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed,
           CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked_after,
           CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n_purchased_after,
           ROUND(CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS DOUBLE)
                 / NULLIF(sum(CASE WHEN s1 THEN 1 ELSE 0 END), 0), 6)
             AS conversion
    FROM flags
    """,
)
def q_x11_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (view → click → purchase): a user
    converts a stage only if its first event strictly follows the first
    event of the previous stage — the earliest-occurrence funnel
    definition (first-touch), computed as one conditional-min aggregate
    per user, no self-joins.

    Scale: single groupBy(user_id) with three conditional MINs (partial
    aggregation applies), then a global 1-row reduce — no per-stage join
    chain, no window.  NULL comparison semantics make `t_click > t_view`
    false when either stage is missing on both engines."""
    ev = table(spark, sf_dir, "events")
    stages = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_buy"),
    )
    s1 = F.col("t_view").isNotNull()
    s2 = s1 & (F.col("t_click") > F.col("t_view"))
    s3 = s2 & (F.col("t_buy") > F.col("t_click"))
    one = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return stages.agg(
        one(s1).cast("bigint").alias("n_viewed"),
        one(s2).cast("bigint").alias("n_clicked_after"),
        one(s3).cast("bigint").alias("n_purchased_after"),
        F.round(
            one(s3).cast("double") / F.nullif(one(s1), F.lit(0)), 6
        ).alias("conversion"),
    )


@register(
    "x11b_weekly_retention",
    f"""
    WITH ev AS (SELECT * FROM {EVENTS_US}),
    firsts AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        FROM ev GROUP BY user_id),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               CAST(datediff('week', f.cohort_week,
                             date_trunc('week', e.ts)) AS INTEGER) AS week_k
        FROM ev e JOIN firsts f ON e.user_id = f.user_id)
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week, week_k,
           CAST(count(*) AS BIGINT) AS n_active
    FROM activity
    WHERE week_k <= 8
    GROUP BY cohort_week, week_k
    ORDER BY cohort_week, week_k
    """,
)
def q_x11b_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week, counted
    as active in each subsequent week (distinct user-week) — the classic
    cohort triangle, weeks 0..8.

    Scale: one groupBy(user) for cohorts (small output, broadcast), one
    distinct over (user, week) — both partial-aggregated; no windows.
    Weeks via date_trunc so both engines bucket identically (Monday
    start)."""
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(F.broadcast(firsts), "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            ).cast("int").alias("week_k"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("week_k") <= 8)
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_k",
        )
        .agg(F.count("*").cast("bigint").alias("n_active"))
        .orderBy("cohort_week", "week_k")
    )


@register(
    "xq33_reengagement_latency",
    f"""
    WITH t AS (
        SELECT user_id, ts, MAX(event_type) AS channel,
               -epoch_us(ts) AS nts
        FROM {EVENTS_US} WHERE event_type IN ('click', 'view')
        GROUP BY user_id, ts),
    p AS (
        SELECT user_id, ts, -epoch_us(ts) AS nts FROM {EVENTS_US}
        WHERE event_type = 'purchase'),
    j AS (
        SELECT COALESCE(t.channel, 'none') AS next_channel,
               epoch_us(t.ts) - epoch_us(p.ts) AS lat_us
        FROM p ASOF LEFT JOIN t
          ON p.user_id = t.user_id AND t.nts <= p.nts)
    SELECT next_channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           ROUND(CAST(SUM(CAST(lat_us AS DECIMAL(38,0))) AS DOUBLE)
                 / COUNT(lat_us) / 1000000.0, 4) AS mean_latency_sec,
           CAST(MAX(lat_us) AS BIGINT) AS max_latency_us
    FROM j GROUP BY next_channel
    """,
)
def q_reengagement_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-engagement latency: for each purchase, the user's NEXT
    click/view at-or-after it (forward as-of join) — how long until a
    buyer comes back, broken down by the returning channel ('none' =
    never returned).  The forward twin of xq6's last-touch attribution,
    via the generic operators/asof.py::asof_join — one union + one
    user-keyed window, no range join, no per-group pandas.

    Oracle: DuckDB native ASOF on NEGATED epoch micros (ASOF picks the
    max reference key <= probe key; max(-t) = min(t) = earliest
    at-or-after).  Touches dedupe to one deterministic row per
    (user, ts) (MAX(event_type), the xq6 rule) so the matched channel
    is engine-identical.  Latency sums accumulate in DECIMAL(38,0)
    micros; the mean divides once in double."""
    from ..operators.asof import asof_join

    ev = table(spark, sf_dir, "events")
    touches = (
        ev.where(F.col("event_type").isin("click", "view"))
        .groupBy("user_id", "ts")
        .agg(F.max("event_type").alias("channel"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    j = asof_join(
        purchases,
        touches,
        by=["user_id"],
        left_ts="ts",
        right_ts="ts",
        values=["channel"],
        direction="forward",
    )
    lat = j.select(
        F.coalesce(F.col("channel"), F.lit("none")).alias("next_channel"),
        (F.unix_micros("__match_ts") - F.unix_micros("ts")).alias("lat_us"),
    )
    return lat.groupBy("next_channel").agg(
        F.count("*").alias("n_purchases"),
        F.round(
            F.sum(F.col("lat_us").cast("decimal(38,0)")).cast("double")
            / F.count("lat_us")
            / F.lit(1000000.0),
            4,
        ).alias("mean_latency_sec"),
        F.max("lat_us").cast("long").alias("max_latency_us"),
    )


@register(
    "xq40_funnel_conversion",
    """
    WITH w1 AS (
        SELECT user_id, event_type, ts,
               min(ts) FILTER (WHERE event_type = 'view')
                 OVER (PARTITION BY user_id) AS t1
        FROM events),
    w2 AS (
        SELECT *, min(ts) FILTER (WHERE event_type = 'click' AND ts >= t1)
                    OVER (PARTITION BY user_id) AS t2
        FROM w1),
    w3 AS (
        SELECT *, min(ts) FILTER (WHERE event_type = 'purchase' AND ts >= t2)
                    OVER (PARTITION BY user_id) AS t3
        FROM w2),
    pu AS (
        SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
        FROM w3 GROUP BY user_id),
    c AS (
        SELECT CAST(count(*) FILTER (WHERE t1 IS NOT NULL) AS BIGINT) AS n1,
               CAST(count(*) FILTER (WHERE t2 IS NOT NULL) AS BIGINT) AS n2,
               CAST(count(*) FILTER (WHERE t3 IS NOT NULL) AS BIGINT) AS n3
        FROM pu)
    SELECT s.step, s.users,
           CAST(s.users AS DOUBLE) / CAST(s.prev AS DOUBLE) AS conv_rate
    FROM c, LATERAL (VALUES ('1_view', n1, CAST(NULL AS BIGINT)),
                            ('2_click', n2, n1),
                            ('3_purchase', n3, n2)) AS s(step, users, prev)
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ordered funnel (view → click → purchase) — the correct
    general form of x11's first-touch approximation.  x11 counts a user
    at step 2 only when their GLOBAL first click follows the first view
    (one conditional-min aggregate — a user who clicked before AND
    after their first view is wrongly dropped); here step 2 admits the
    first click AT-OR-AFTER the first view, and step 3 the first
    purchase at-or-after THAT click — the sequence semantics every
    product-analytics funnel tool implements.

    Scale shape: three chained whole-partition filtered window-mins on
    the SAME user_id partitioning — ONE shuffle, three Window passes
    over it, no self-joins (the naive form joins events to itself once
    per funnel step).  Per-user state is three timestamps; the readout
    aggregate is three counters unpivoted via stack.  Step semantics at
    ties: same-timestamp qualifies (>=), matching the oracle exactly."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    d1 = ev.withColumn(
        "t1",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    d2 = d1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") >= F.col("t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    d3 = d2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") >= F.col("t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    pu = d3.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    c = pu.agg(
        F.count_if(F.col("t1").isNotNull()).alias("n1"),
        F.count_if(F.col("t2").isNotNull()).alias("n2"),
        F.count_if(F.col("t3").isNotNull()).alias("n3"),
    )
    return c.select(
        F.expr(
            "stack(3, '1_view', n1, CAST(NULL AS BIGINT),"
            " '2_click', n2, n1,"
            " '3_purchase', n3, n2) AS (step, users, prev)"
        )
    ).select(
        "step",
        "users",
        (F.col("users").cast("double") / F.col("prev").cast("double")).alias(
            "conv_rate"
        ),
    )
