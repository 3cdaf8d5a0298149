"""Data-quality + corpus-composition operators (round 5).

Four operators a 100 TB training-data pipeline runs between ingest and
tokenization, each oracle-paired:

- xq1_constraint_audit    — declarative Deequ-style constraint suite
  evaluated in ONE aggregate pass per table (completeness, uniqueness,
  set membership, range), long-format verdict rows.
- xt15_domain_mixture_epochs — re-weight a multi-source corpus to a
  target domain mixture by fractional epochs (floor(e) full copies +
  one more with probability frac(e), decided by a deterministic md5
  coin), materialized distributively via explode.  This is the
  up/down-sampling recipe behind published LLM data mixtures.
- xt16_quality_weighted_sample — importance-sample documents with
  keep-probability a rational function of length (no libm calls — the
  coin and the probability are bit-identical on any engine).
- x13_cdc_apply_latest_state — apply a keyed changelog (events) to
  produce current state: latest row per key wins, a tombstone type
  deletes the key.  The MERGE-shape op behind incremental snapshots.

Reference scope: the reference's ETL validates row shape before load
(/root/reference/etl/etl_ida.py: dropna + invalid-cell filters, op11/
op12) and upserts dimensions (op38); these operators generalize that
validation/merge posture to corpus scale.

Determinism contract (hash-matched against DuckDB): random coins are
`substr(md5(key), 1, 8) < printf('%08x', floor(p * 2^32))` — md5 and
the hex rendering are engine-independent, so sample membership is
reproducible anywhere (same property xt1_hash_split_assignment relies
on).  No exp/log in probabilities: libm differs across engines in the
last ulp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..session import materialize, scoped_conf
from ..sources.tables import table


def _coin(key_col, p_col):
    """Deterministic Bernoulli(p) draw from md5(key): uniform u in [0,1)
    as an 8-hex-digit string, compared against the 8-hex rendering of
    floor(p * 2^32).  Lexicographic compare == numeric compare because
    both sides are fixed-width lowercase hex.  Returns a boolean column.
    """
    u = F.substring(F.md5(key_col.cast("string")), 1, 8)
    thresh = F.format_string(
        "%08x",
        F.least(
            F.floor(p_col * F.lit(4294967296.0)), F.lit(4294967295)
        ).cast("long"),
    )
    return u < thresh


_COIN_SQL = (
    "substr(md5(CAST({key} AS VARCHAR)), 1, 8) < "
    "printf('%08x', CAST(least(floor(({p}) * 4294967296.0), 4294967295) AS BIGINT))"
)


@register(
    "xq1_constraint_audit",
    """
    WITH o AS (
        SELECT COUNT(*) AS n,
               COUNT(*) - COUNT(DISTINCT o_orderkey) AS dup_keys,
               COUNT(*) - COUNT(o_custkey) AS null_cust,
               CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
               CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg_price
        FROM orders
    ),
    l AS (
        SELECT CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_qty,
               CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS bad_disc,
               COUNT(*) - COUNT(l_shipdate) AS null_ship
        FROM lineitem
    )
    SELECT * FROM (
        SELECT 'orders.o_orderkey_unique' AS constraint_name, dup_keys AS violations FROM o
        UNION ALL SELECT 'orders.o_custkey_complete', null_cust FROM o
        UNION ALL SELECT 'orders.o_orderstatus_in_set', bad_status FROM o
        UNION ALL SELECT 'orders.o_totalprice_nonnegative', neg_price FROM o
        UNION ALL SELECT 'lineitem.l_quantity_positive', bad_qty FROM l
        UNION ALL SELECT 'lineitem.l_discount_in_unit_range', bad_disc FROM l
        UNION ALL SELECT 'lineitem.l_shipdate_complete', null_ship FROM l
    ) v
    ORDER BY constraint_name
    """,
)
def constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint suite, Deequ-style: ALL row-level checks on
    a table fold into ONE aggregate pass (conditional counts), so the
    audit costs one scan per table regardless of how many constraints it
    carries — the property that makes a 100-constraint suite viable on a
    100 TB table.  The single exact COUNT(DISTINCT) adds Spark's Expand
    (2x rows through the first aggregate) — the one check that is not
    free; swap for approx_count_distinct when a tolerance is acceptable.
    FK edges live in xt4_fk_integrity_audit (anti-joins, inherently not
    single-pass).  Output is long-format (constraint_name, violations)
    so downstream gating is itself a trivial filter."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0))

    orow = o.agg(
        (F.count("*") - F.countDistinct("o_orderkey")).alias("dup_keys"),
        (F.count("*") - F.count("o_custkey")).alias("null_cust"),
        cnt(~F.col("o_orderstatus").isin("F", "O", "P")).alias("bad_status"),
        cnt(F.col("o_totalprice") < 0).alias("neg_price"),
    )
    lrow = li.agg(
        cnt(F.col("l_quantity") <= 0).alias("bad_qty"),
        cnt((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).alias(
            "bad_disc"
        ),
        (F.count("*") - F.count("l_shipdate")).alias("null_ship"),
    )
    o_checks = orow.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("constraint_name"),
                        F.col(c).cast("long").alias("violations"),
                    )
                    for name, c in [
                        ("orders.o_orderkey_unique", "dup_keys"),
                        ("orders.o_custkey_complete", "null_cust"),
                        ("orders.o_orderstatus_in_set", "bad_status"),
                        ("orders.o_totalprice_nonnegative", "neg_price"),
                    ]
                ]
            )
        )
    )
    l_checks = lrow.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("constraint_name"),
                        F.col(c).cast("long").alias("violations"),
                    )
                    for name, c in [
                        ("lineitem.l_quantity_positive", "bad_qty"),
                        ("lineitem.l_discount_in_unit_range", "bad_disc"),
                        ("lineitem.l_shipdate_complete", "null_ship"),
                    ]
                ]
            )
        )
    )
    return o_checks.unionByName(l_checks).orderBy("constraint_name")


@register(
    "xt15_domain_mixture_epochs",
    f"""
    WITH counts AS (
        SELECT source,
               COUNT(*) AS n_in,
               CASE WHEN CAST(substr(source, 4) AS BIGINT) < 5
                    THEN 2.0 ELSE 1.0 END AS w
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(n_in) AS DOUBLE) AS t, SUM(w) AS sw FROM counts
    ),
    plan_ AS (
        SELECT source, n_in, (w / sw) * t / n_in AS epochs
        FROM counts, tot
    ),
    copies AS (
        SELECT d.source,
               CAST(floor(p.epochs) AS BIGINT)
               + CASE WHEN {_COIN_SQL.format(key='d.doc_id', p='p.epochs - floor(p.epochs)')}
                      THEN 1 ELSE 0 END AS n_copies
        FROM documents d JOIN plan_ p USING (source)
    )
    SELECT c.source,
           MAX(p.n_in) AS n_in,
           MAX(p.epochs) AS epochs,
           CAST(SUM(c.n_copies) AS BIGINT) AS n_out
    FROM copies c JOIN plan_ p USING (source)
    GROUP BY c.source
    ORDER BY c.source
    """,
)
def domain_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-weight a multi-source corpus to a target domain mixture via
    fractional epochs — the standard LLM-pretraining recipe (e.g. "web
    x0.7, code x2.3"): source s with target weight w_s gets
    epochs_s = (w_s / sum(w)) * T / n_s passes over its documents, where
    T is the output token/doc budget (here: keep total corpus size).
    epochs > 1 up-samples (full copies), the fractional remainder is a
    per-document deterministic md5 coin, so the materialized mixture is
    reproducible run-to-run and engine-to-engine.

    Scale design: per-source counts are a tiny aggregate broadcast back
    onto the corpus (source cardinality ~10-100 at any data size);
    copy materialization is explode(sequence(...)) — per-row work, no
    shuffle until the final summary; a doc with 0 copies explodes an
    empty array and vanishes.  Target weights here: sources with index
    < 5 get 2x the weight of the rest (fixed spec, oracle-mirrored).
    Note sequence(1, n) with n=0 would count DOWN in Spark — the empty
    array must be explicit."""
    docs = table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_in"))
    counts = counts.withColumn(
        "w",
        F.when(
            F.substring("source", 4, 10).cast("bigint") < 5, F.lit(2.0)
        ).otherwise(F.lit(1.0)),
    )
    tot = counts.agg(
        F.sum("n_in").cast("double").alias("t"), F.sum("w").alias("sw")
    )
    plan = counts.join(F.broadcast(tot)).select(
        "source",
        "n_in",
        ((F.col("w") / F.col("sw")) * F.col("t") / F.col("n_in")).alias(
            "epochs"
        ),
    )
    frac = F.col("epochs") - F.floor("epochs")
    n_copies = (
        F.floor("epochs").cast("long")
        + F.when(_coin(F.col("doc_id"), frac), 1).otherwise(0)
    ).alias("n_copies")
    materialized = (
        docs.join(F.broadcast(plan), "source")
        .select("source", "doc_id", "n_in", "epochs", n_copies)
        .select(
            "source",
            "n_in",
            "epochs",
            F.explode(
                F.when(
                    F.col("n_copies") >= 1,
                    F.sequence(F.lit(1).cast("long"), F.col("n_copies")),
                ).otherwise(F.array())
            ).alias("copy_i"),
        )
    )
    return (
        materialized.groupBy("source")
        .agg(
            F.max("n_in").alias("n_in"),
            F.max("epochs").alias("epochs"),
            F.count("*").alias("n_out"),
        )
        .orderBy("source")
    )


@register(
    "xt16_quality_weighted_sample",
    f"""
    SELECT lang,
           COUNT(*) AS n_kept,
           CAST(SUM(CAST(n_chars AS DECIMAL(38,0))) AS DOUBLE) / COUNT(n_chars)
               AS avg_chars_kept
    FROM (
        SELECT lang, n_chars
        FROM documents
        WHERE {_COIN_SQL.format(key='doc_id', p='CAST(n_chars AS DOUBLE) / (n_chars + 200.0)')}
    ) kept
    GROUP BY lang
    ORDER BY lang
    """,
)
def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling by document quality: keep probability
    p = n_chars / (n_chars + 200) — longer documents survive more often,
    a 50%-keep knee at 200 chars.  The probability is a RATIONAL
    function on purpose: exp/log-based weights (softmax temperature)
    differ across engines in the last ulp and would break bit-exact
    reproducibility of sample membership; rational arithmetic plus the
    md5 coin is exactly portable.  Per-row decision, zero shuffles
    before the summary aggregate — at 100 TB this is a pure map stage
    over the corpus."""
    docs = table(spark, sf_dir, "documents")
    p = F.col("n_chars").cast("double") / (F.col("n_chars") + F.lit(200.0))
    from ..functions.aggs import avg_exact

    return (
        docs.filter(_coin(F.col("doc_id"), p))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_kept"),
            avg_exact("n_chars", scale=0).alias("avg_chars_kept"),
        )
        .orderBy("lang")
    )


@register(
    "x13_cdc_apply_latest_state",
    """
    SELECT user_id, last_type, last_value, n_events
    FROM (
        SELECT user_id, event_type AS last_type, value AS last_value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_events
        FROM events
    ) s
    WHERE rn = 1 AND last_type <> 'error'
    ORDER BY user_id
    """,
)
def cdc_apply_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a keyed changelog to produce current state — the batch
    MERGE shape behind every incremental snapshot: latest row per key
    wins (ordered by ts, event_id as the deterministic tiebreak), and a
    tombstone type ('error' plays the delete marker in this dataset)
    removes the key from the final state.

    Scale design: ONE shuffle on the key; both window functions share
    the same partition spec so they evaluate in a single WindowExec
    pass.  At 100 TB the changelog is typically log-structured by time
    — the key shuffle is unavoidable (state is keyed), but nothing else
    moves; compare operators/upsert.py (op38) for the dimension-table
    variant and operators/scd2.py for the full-history variant."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    wc = Window.partitionBy("user_id")
    return (
        ev.select(
            "user_id",
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
            F.row_number().over(w).alias("rn"),
            F.count("*").over(wc).alias("n_events"),
        )
        .filter((F.col("rn") == 1) & (F.col("last_type") != "error"))
        .drop("rn")
        .orderBy("user_id")
    )


@register(
    "xq2_drift_chisq",
    """
    WITH per AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN ts <  TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM events GROUP BY event_type
    ),
    wtot AS (
        SELECT event_type, n_a, n_b,
               CAST(SUM(n_a) OVER () AS DOUBLE) AS ta,
               CAST(SUM(n_b) OVER () AS DOUBLE) AS tb
        FROM per
    )
    SELECT event_type, n_a, n_b,
           ROUND(
             (CAST(n_a AS DOUBLE) - e_a) * (CAST(n_a AS DOUBLE) - e_a) / e_a
           + (CAST(n_b AS DOUBLE) - e_b) * (CAST(n_b AS DOUBLE) - e_b) / e_b
           , 9) AS chisq_contrib
    FROM (
        SELECT event_type, n_a, n_b,
               CAST(n_a + n_b AS DOUBLE) * ta / (ta + tb) AS e_a,
               CAST(n_a + n_b AS DOUBLE) * tb / (ta + tb) AS e_b
        FROM wtot
    ) x
    ORDER BY event_type
    """,
)
def drift_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift check between two periods of a changelog — the
    gate a pipeline runs before blending a new data drop into an old
    corpus: per-category two-sample chi-square contributions for the
    event-type mix, first half of January vs second half (fixed
    boundary, oracle-mirrored).  Large contributions localize WHICH
    category drifted, the sum is the classic test statistic.

    Arithmetic is chi-square on purpose (not PSI/KL): contributions are
    rational — counts, one division order, explicit squares as x*x —
    so the values are bit-identical on any engine; PSI needs log(),
    whose last-ulp behavior is libm-specific (same rule as the md5
    coin's rational probabilities).  Plan: ONE scan with conditional
    counts (both periods in one pass, no self-join of two filtered
    reads), totals via a window over the category grain (linear, no
    re-scan), pure expressions after."""
    ev = table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    per = ev.groupBy("event_type").agg(
        F.sum((F.col("ts") < cut).cast("long")).alias("n_a"),
        F.sum((F.col("ts") >= cut).cast("long")).alias("n_b"),
    )
    # totals as a WINDOW over the category grain, not per.agg + rejoin:
    # the agg+join form references `per` twice and recomputes the scan
    # (the same diamond trap the flagship hit) — the window keeps the
    # pipeline linear, one scan, and only ever sees #categories rows
    w_all = Window.partitionBy()
    j = per.select(
        "event_type",
        "n_a",
        "n_b",
        F.sum("n_a").over(w_all).cast("double").alias("ta"),
        F.sum("n_b").over(w_all).cast("double").alias("tb"),
    )
    e_a = (F.col("n_a") + F.col("n_b")).cast("double") * F.col("ta") / (
        F.col("ta") + F.col("tb")
    )
    e_b = (F.col("n_a") + F.col("n_b")).cast("double") * F.col("tb") / (
        F.col("ta") + F.col("tb")
    )
    d_a = F.col("n_a").cast("double") - F.col("e_a")
    d_b = F.col("n_b").cast("double") - F.col("e_b")
    return (
        j.select("event_type", "n_a", "n_b", e_a.alias("e_a"), e_b.alias("e_b"))
        .select(
            "event_type",
            "n_a",
            "n_b",
            F.round(
                d_a * d_a / F.col("e_a") + d_b * d_b / F.col("e_b"), 9
            ).alias("chisq_contrib"),
        )
        .orderBy("event_type")
    )


@register(
    "xq3_snapshot_diff",
    f"""
    WITH v1 AS (
        SELECT doc_id, md5(text) AS h FROM documents
    ),
    v2 AS (
        SELECT doc_id,
               CASE WHEN {_COIN_SQL.format(key='doc_id * 7 + 3', p='0.10')}
                    THEN md5(text || ' v2') ELSE md5(text) END AS h
        FROM documents
        WHERE NOT ({_COIN_SQL.format(key='doc_id * 13 + 1', p='0.05')})
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM (
        SELECT CASE WHEN v2.doc_id IS NULL THEN 'removed'
                    WHEN v1.doc_id IS NULL THEN 'added'
                    WHEN v1.h <> v2.h THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM v1 FULL OUTER JOIN v2 USING (doc_id)
    ) d
    GROUP BY status
    ORDER BY status
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — the audit between two versions of a
    dataset (what a lakehouse MERGE/versioned table shows as its change
    summary): FULL OUTER JOIN on the key, row identity by content hash,
    classified added / removed / changed / unchanged.

    v2 is derived deterministically from v1 in-query (5% of docs dropped,
    10% text-modified, via independent md5 coins) so both engines build
    the identical version pair — the operator under test is the diff,
    not the derivation.  At 100 TB: one shuffle per side on the key
    (or zero with co-bucketed versions), content hash computed in the
    scan projection, and the classification is a pure expression — the
    diff costs one sort-merge join regardless of how many rows changed."""
    docs = table(spark, sf_dir, "documents")
    v1 = docs.select("doc_id", F.md5("text").alias("h"))
    drop_coin = _coin(F.col("doc_id") * 13 + 1, F.lit(0.05))
    mod_coin = _coin(F.col("doc_id") * 7 + 3, F.lit(0.10))
    v2 = (
        docs.filter(~drop_coin)
        .select(
            "doc_id",
            F.when(mod_coin, F.md5(F.concat(F.col("text"), F.lit(" v2"))))
            .otherwise(F.md5("text"))
            .alias("h"),
        )
        .withColumnsRenamed({"doc_id": "doc_id2", "h": "h2"})
    )
    joined = v1.join(v2, v1.doc_id == v2.doc_id2, "full_outer")
    status = (
        F.when(F.col("doc_id2").isNull(), "removed")
        .when(F.col("doc_id").isNull(), "added")
        .when(F.col("h") != F.col("h2"), "changed")
        .otherwise("unchanged")
    )
    return (
        joined.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("status")
    )


@register(
    "xq4_revenue_trend_regression",
    """
    WITH monthly AS (
        SELECT c_mktsegment,
               (EXTRACT(year FROM o_orderdate) - 1992) * 12
                   + EXTRACT(month FROM o_orderdate) - 1 AS x,
               CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(38,6)))) AS BIGINT) AS y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2),
    s AS (
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_months,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM monthly GROUP BY c_mktsegment)
    SELECT c_mktsegment,
           n_months,
           sy AS total_rev,
           ROUND(CAST(n_months * sxy - sx * sy AS DOUBLE)
                 / CAST(n_months * sxx - sx * sx AS DOUBLE), 6) AS slope,
           ROUND((CAST(sy AS DOUBLE)
                  - CAST(n_months * sxy - sx * sy AS DOUBLE)
                    / CAST(n_months * sxx - sx * sx AS DOUBLE)
                    * CAST(sx AS DOUBLE))
                 / CAST(n_months AS DOUBLE), 6) AS intercept
    FROM s
    """,
)
def revenue_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment least-squares revenue trend (slope + intercept of
    monthly revenue vs month index) computed EXACTLY until the last
    division: the five sufficient statistics (n, Σx, Σy, Σxy, Σx²) are
    BIGINT aggregates of integer month indexes and floor-to-dollar
    monthly revenues, so the normal-equation numerators/denominators are
    integer-exact and cross-engine identical; only the final slope /
    intercept divisions touch doubles (same IEEE ops both engines,
    rounded to 6 dp).  No libm, no regr_* (whose float accumulation
    order is engine-specific).

    Plan: one broadcast join (customer dim), one monthly aggregate with
    map-side partials, then a 5-row regroup — the "fit a trend per
    entity" primitive at 100 TB is exactly this shape: sufficient
    statistics distribute, the model solve is O(groups).
    tests/test_quality_ops.py checks slope/intercept against
    numpy.polyfit."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    x = (
        (F.year("o_orderdate") - F.lit(1992)) * 12
        + F.month("o_orderdate")
        - F.lit(1)
    ).cast("long")
    monthly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", x.alias("x"))
        .agg(
            F.floor(F.sum(F.col("o_totalprice").cast("decimal(38,6)")))
            .cast("long")
            .alias("y")
        )
    )
    s = monthly.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_months"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (
        F.col("n_months"),
        F.col("sx"),
        F.col("sy"),
        F.col("sxy"),
        F.col("sxx"),
    )
    num = (n * sxy - sx * sy).cast("double")
    den = (n * sxx - sx * sx).cast("double")
    return s.select(
        "c_mktsegment",
        "n_months",
        sy.alias("total_rev"),
        F.round(num / den, 6).alias("slope"),
        F.round(
            (sy.cast("double") - num / den * sx.cast("double"))
            / n.cast("double"),
            6,
        ).alias("intercept"),
    )


@register(
    "x23_group_outlier_mad",
    """
    WITH med AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.5) AS med
        FROM lineitem GROUP BY l_returnflag),
    dev AS (
        SELECT l.l_returnflag,
               abs(l.l_extendedprice - med.med) AS adev,
               med.med
        FROM lineitem l JOIN med USING (l_returnflag)),
    mad AS (
        SELECT l_returnflag, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY l_returnflag)
    SELECT d.l_returnflag,
           COUNT(*) AS n_rows,
           COUNT(*) FILTER (
               WHERE d.adev > 3 * CAST(1.4826 AS DOUBLE) * mad.mad) AS n_outliers,
           ROUND(CAST(COUNT(*) FILTER (
                   WHERE d.adev > 3 * CAST(1.4826 AS DOUBLE) * mad.mad) AS DOUBLE)
                 / COUNT(*), 6) AS outlier_rate,
           ROUND(ANY_VALUE(d.med), 4) AS median_price,
           ROUND(ANY_VALUE(mad.mad), 4) AS mad_price
    FROM dev d JOIN mad USING (l_returnflag)
    GROUP BY d.l_returnflag
    """,
)
def group_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per group: flag rows whose absolute
    deviation from the group median exceeds 3 robust standard
    deviations (MAD x 1.4826 — the normal-consistency constant), report
    per-group counts and rates.

    Mean/stddev outlier fences are circular (the outliers inflate the
    fence); the median/MAD fence is the standard robust alternative —
    and the naive SQL needs two per-group sorts (median, then median of
    deviations), each a whole-group buffer at 100 TB.  Here both
    medians come from the sketch-band grouped_quantiles_band primitive
    (operators/ranking.py — two scans, no window, no full-data
    shuffle); the flagging pass is a broadcast join of the 3-row
    (group, median, MAD) frame against the fact followed by one
    map-side-combined aggregate.  The threshold comparison is pure
    double arithmetic on the exactly-interpolated medians, so counts
    hash-match the DuckDB quantile_cont oracle exactly.

    r9: both medians moved from the bucketed two-level-rank primitive
    to ranking.grouped_quantiles_band (sketch band + in-band confirm —
    two scans each, zero windows, no eager boundary probes); same
    exact-interpolation contract, measured 3.0 → ~1.9 s at the x10
    replica with bit-identical output.
    """
    from ..operators.ranking import grouped_quantiles_band

    g = ["l_returnflag"]
    li = table(spark, sf_dir, "lineitem").select(*g, "l_extendedprice")
    # one row per group (bounded metadata)
    med = materialize(
        grouped_quantiles_band(li, "l_extendedprice", g, {"med": 0.5})
    )
    dev = li.join(F.broadcast(med), g).withColumn(
        "adev", F.abs(F.col("l_extendedprice") - F.col("med"))
    )
    mad = grouped_quantiles_band(dev, "adev", g, {"mad": 0.5})
    thr = F.lit(3) * F.lit(1.4826) * F.col("mad")
    return (
        dev.join(F.broadcast(mad), g)
        .groupBy(*g)
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col("adev") > thr, 1).otherwise(0)).alias(
                "n_outliers"
            ),
            F.round(
                F.sum(
                    F.when(F.col("adev") > thr, 1).otherwise(0)
                ).cast("double")
                / F.count("*"),
                6,
            ).alias("outlier_rate"),
            F.round(F.first("med"), 4).alias("median_price"),
            F.round(F.first("mad"), 4).alias("mad_price"),
        )
    )


_XQ41_ORACLE = r"""
    WITH mvals(ano_mes, mul, frac) AS (
        VALUES (DATE '2017-01-01', 1, 0.5),
               (DATE '2017-02-01', 2, 0.0),
               (DATE '2017-03-01', 3, 0.25)),
    svc(servico, off) AS (VALUES ('SMP', 0), ('STFC', 40)),
    tempo AS (
        SELECT ano_mes, year(ano_mes) AS ano, month(ano_mes) AS mes,
               quarter(ano_mes) AS trimestre,
               CAST((month(ano_mes) - 1) / 6 AS INTEGER) + 1 AS semestre,
               CASE month(ano_mes) WHEN 1 THEN 'Janeiro' WHEN 2 THEN 'Fevereiro'
                    WHEN 3 THEN 'Março' END AS mes_nome
        FROM mvals),
    grupo AS (
        SELECT regexp_replace(trim(n_name), '\s+', ' ', 'g') AS grupo_codigo
        FROM nation WHERE n_nationkey % 3 = 0),
    facts AS (
        SELECT m.ano_mes,
               regexp_replace(trim(g.n_name), '\s+', ' ', 'g') AS grupo,
               s.servico, 'TAXA_RESP_5DIAS' AS variavel,
               CAST((n.n_nationkey + s.off) * m.mul + m.frac AS DOUBLE) AS valor,
               s.servico || '_2017.ods' AS arquivo_origem
        FROM nation n
        JOIN nation g ON g.n_nationkey = n.n_nationkey - (n.n_nationkey % 3),
             mvals m, svc s
        WHERE NOT (m.ano_mes = DATE '2017-02-01' AND n.n_nationkey % 5 = 0)),
    t AS (SELECT COUNT(*) AS n,
                 COUNT(*) - COUNT(ano_mes) AS am_null,
                 COUNT(*) - COUNT(DISTINCT ano_mes) AS am_dup,
                 COUNT(*) - COUNT(ano) AS ano_null,
                 COUNT(*) - COUNT(mes) AS mes_null,
                 CAST(SUM(CASE WHEN mes NOT BETWEEN 1 AND 12 THEN 1 ELSE 0 END) AS BIGINT) AS mes_rng,
                 COUNT(*) - COUNT(mes_nome) AS mn_null,
                 COUNT(*) - COUNT(trimestre) AS tri_null,
                 CAST(SUM(CASE WHEN trimestre NOT BETWEEN 1 AND 4 THEN 1 ELSE 0 END) AS BIGINT) AS tri_rng,
                 COUNT(*) - COUNT(semestre) AS sem_null,
                 CAST(SUM(CASE WHEN semestre NOT BETWEEN 1 AND 2 THEN 1 ELSE 0 END) AS BIGINT) AS sem_rng
          FROM tempo),
    g2 AS (SELECT COUNT(*) - COUNT(grupo_codigo) AS gc_null,
                  COUNT(*) - COUNT(DISTINCT grupo_codigo) AS gc_dup
           FROM grupo),
    f AS (SELECT COUNT(*) - COUNT(ano_mes) AS tk_null,
                 COUNT(*) - COUNT(grupo) AS gk_null,
                 COUNT(*) - COUNT(servico) AS sk_null,
                 COUNT(*) - COUNT(variavel) AS vk_null,
                 COUNT(*) - COUNT(valor) AS val_null,
                 COUNT(*) - COUNT(arquivo_origem) AS arq_null,
                 COUNT(*) - COUNT(DISTINCT CAST(ano_mes AS VARCHAR) || '|' || grupo || '|' || servico || '|' || variavel) AS uk_dims,
                 COUNT(*) - COUNT(DISTINCT CAST(ano_mes AS VARCHAR) || '|' || grupo || '|' || servico || '|' || variavel || '|' || CAST(valor AS VARCHAR)) AS uk_hash
          FROM facts)
    SELECT * FROM (
        SELECT 'dim_grupo.ativo_not_null' AS constraint_name, CAST(0 AS BIGINT) AS violations
        UNION ALL SELECT 'dim_grupo.grupo_codigo_not_null', gc_null FROM g2
        UNION ALL SELECT 'dim_grupo.grupo_codigo_unique', gc_dup FROM g2
        UNION ALL SELECT 'dim_grupo.grupo_nome_not_null', gc_null FROM g2
        UNION ALL SELECT 'dim_grupo.grupo_normalizado_not_null', gc_null FROM g2
        UNION ALL SELECT 'dim_servico.ativo_not_null', 0
        UNION ALL SELECT 'dim_servico.servico_codigo_not_null', 0
        UNION ALL SELECT 'dim_servico.servico_codigo_unique', 0
        UNION ALL SELECT 'dim_servico.servico_nome_not_null', 0
        UNION ALL SELECT 'dim_tempo.ano_mes_not_null', am_null FROM t
        UNION ALL SELECT 'dim_tempo.ano_mes_unique', am_dup FROM t
        UNION ALL SELECT 'dim_tempo.ano_not_null', ano_null FROM t
        UNION ALL SELECT 'dim_tempo.mes_between_1_12', mes_rng FROM t
        UNION ALL SELECT 'dim_tempo.mes_nome_not_null', mn_null FROM t
        UNION ALL SELECT 'dim_tempo.mes_not_null', mes_null FROM t
        UNION ALL SELECT 'dim_tempo.semestre_between_1_2', sem_rng FROM t
        UNION ALL SELECT 'dim_tempo.semestre_not_null', sem_null FROM t
        UNION ALL SELECT 'dim_tempo.trimestre_between_1_4', tri_rng FROM t
        UNION ALL SELECT 'dim_tempo.trimestre_not_null', tri_null FROM t
        UNION ALL SELECT 'dim_variavel.ativo_not_null', 0
        UNION ALL SELECT 'dim_variavel.is_principal_not_null', 0
        UNION ALL SELECT 'dim_variavel.variavel_codigo_not_null', 0
        UNION ALL SELECT 'dim_variavel.variavel_codigo_unique', 0
        UNION ALL SELECT 'dim_variavel.variavel_nome_not_null', 0
        UNION ALL SELECT 'fact_ida.arquivo_origem_not_null', arq_null FROM f
        UNION ALL SELECT 'fact_ida.grupo_key_not_null', gk_null FROM f
        UNION ALL SELECT 'fact_ida.hash_registro_not_null', 0
        UNION ALL SELECT 'fact_ida.servico_key_not_null', sk_null FROM f
        UNION ALL SELECT 'fact_ida.tempo_key_not_null', tk_null FROM f
        UNION ALL SELECT 'fact_ida.uk_fact_ida_hash', uk_hash FROM f
        UNION ALL SELECT 'fact_ida.uk_fact_ida_unique', uk_dims FROM f
        UNION ALL SELECT 'fact_ida.valor_not_null', val_null FROM f
        UNION ALL SELECT 'fact_ida.variavel_key_not_null', vk_null FROM f
    ) v ORDER BY constraint_name
"""


@register("xq41_star_ddl_audit", _XQ41_ORACLE)
def star_ddl_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit the BUILT star schema against every declarative constraint in
    the reference DDL (schema_star.sql:18-95): the NOT NULLs, the
    month/quarter/semester range CHECKs (:23,:25,:26), the natural-key
    UNIQUE indexes on all four dims (:31,:44,:57,:74), and the fact's
    two UNIQUE constraints (uk_fact_ida_unique / uk_fact_ida_hash, :93-94).
    The reference delegates these to PostgreSQL's constraint machinery at
    INSERT time; a lake engine has no enforcing store, so the audit IS the
    enforcement — run post-ingest, gate the publish on all-zeros (the
    write-audit-publish pattern of xs11, composing xq1's single-pass
    conditional-count fold).  FK edges are anti-join territory and live in
    xt4_fk_integrity_audit.

    Input: the same deterministic two-resource ingest as
    pipeline_ingest_ida (nation rows play sheet rows), so the DuckDB
    oracle can rebuild the dims/fact exactly and recompute every count —
    including the two real uniqueness violations counts on the fact
    (the synthetic sheet's grain makes uk_fact_ida_unique genuinely
    nonzero: multiple sheet rows share one ffilled group).

    Scale: one conditional-count aggregate pass per table (xq1's fold);
    the three fact COUNT(DISTINCT)s share one aggregate via Expand (3×
    the fact rows through the first stage — the audit's entire cost and
    the reason a tolerance-accepting variant would swap them for
    approx_count_distinct).

    Job-count discipline (r12, VERDICT r11 #4): the audit's input is a
    FIXED 25-row sheet at every factor, but the r11 form posted 2.1 s
    at x100 — pure fixed cost: each of the 5 fold branches re-ran the
    full ingest lineage (transform → dims → 4 broadcast joins) inside
    the union action (the ROUND_NOTES un-materialized-small-aggregate
    trap), and every tiny aggregate stage scheduled 32 shuffle tasks.
    Fix: (1) materialize the transformed records ONCE, coalesced to one
    partition, so each branch reuses the materialized 150 rows; (2)
    no dim joins in the fact: ``load_fact`` computes the surrogate keys
    inline (each broadcast dim join was a broadcast-build sub-job); (3)
    execute the bounded audit to its 33-row result inside a scoped
    AQE-off ``shuffle.partitions=1`` block (AQE materializes every
    exchange as its own job; confs bind at execution, so the frame is
    materialized inside the scope).  Jobs per invocation 20 → 8;
    warm best-of-4 at x100 4.1 → 1.8 s.  The residual is per-job
    scheduler fixed cost plus per-invocation plan analysis/codegen of
    the 33-branch plan — overhead class by construction (the input
    never scales), not a data-path defect.  Measured-and-rejected:
    single-partition everything (autoBroadcastJoinThreshold=-1 +
    repartition(1) sort, 4 jobs) — fewer jobs but a slower wall (2.6 s:
    the serialized one-task pipeline costs more than the jobs saved);
    final coalesce(1) (5.6 s: collapses the union's parallelism)."""
    from ..plans.etl import build_dims, load_fact, transform_wide
    from .ingest_e2e import _SVC_OFFSET, _wide_sheet

    nation = table(spark, sf_dir, "nation")
    wide = _wide_sheet(nation, "SMP", _SVC_OFFSET["SMP"]).unionByName(
        _wide_sheet(nation, "STFC", _SVC_OFFSET["STFC"])
    )
    records = materialize(transform_wide(wide).coalesce(1))
    star = {**build_dims(records), "fact_ida": load_fact(records)}

    def nulls(c: str) -> F.Column:
        return F.count("*") - F.count(c)

    def dups(*cols: str) -> F.Column:
        return F.count("*") - F.countDistinct(*cols)

    def rng(c: str, lo: int, hi: int) -> F.Column:
        return F.sum(
            F.when(~F.col(c).between(lo, hi), 1).otherwise(0)
        )

    def fold(df: DataFrame, checks: list[tuple[str, F.Column]]) -> DataFrame:
        row = df.agg(
            *[c.cast("long").alias(f"_c{i}") for i, (_, c) in enumerate(checks)]
        )
        return row.select(
            F.inline(
                F.array(
                    *[
                        F.struct(
                            F.lit(n).alias("constraint_name"),
                            F.col(f"_c{i}").alias("violations"),
                        )
                        for i, (n, _) in enumerate(checks)
                    ]
                )
            )
        )

    audits = [
        fold(star["dim_tempo"], [
            ("dim_tempo.ano_mes_not_null", nulls("ano_mes")),
            ("dim_tempo.ano_mes_unique", dups("ano_mes")),
            ("dim_tempo.ano_not_null", nulls("ano")),
            ("dim_tempo.mes_not_null", nulls("mes")),
            ("dim_tempo.mes_between_1_12", rng("mes", 1, 12)),
            ("dim_tempo.mes_nome_not_null", nulls("mes_nome")),
            ("dim_tempo.trimestre_not_null", nulls("trimestre")),
            ("dim_tempo.trimestre_between_1_4", rng("trimestre", 1, 4)),
            ("dim_tempo.semestre_not_null", nulls("semestre")),
            ("dim_tempo.semestre_between_1_2", rng("semestre", 1, 2)),
        ]),
        fold(star["dim_grupo_economico"], [
            ("dim_grupo.grupo_codigo_not_null", nulls("grupo_codigo")),
            ("dim_grupo.grupo_codigo_unique", dups("grupo_codigo")),
            ("dim_grupo.grupo_nome_not_null", nulls("grupo_nome")),
            ("dim_grupo.grupo_normalizado_not_null", nulls("grupo_normalizado")),
            ("dim_grupo.ativo_not_null", nulls("ativo")),
        ]),
        fold(star["dim_servico"], [
            ("dim_servico.servico_codigo_not_null", nulls("servico_codigo")),
            ("dim_servico.servico_codigo_unique", dups("servico_codigo")),
            ("dim_servico.servico_nome_not_null", nulls("servico_nome")),
            ("dim_servico.ativo_not_null", nulls("ativo")),
        ]),
        fold(star["dim_variavel"], [
            ("dim_variavel.variavel_codigo_not_null", nulls("variavel_codigo")),
            ("dim_variavel.variavel_codigo_unique", dups("variavel_codigo")),
            ("dim_variavel.variavel_nome_not_null", nulls("variavel_nome")),
            ("dim_variavel.is_principal_not_null", nulls("is_principal")),
            ("dim_variavel.ativo_not_null", nulls("ativo")),
        ]),
        fold(star["fact_ida"], [
            ("fact_ida.tempo_key_not_null", nulls("tempo_key")),
            ("fact_ida.grupo_key_not_null", nulls("grupo_key")),
            ("fact_ida.servico_key_not_null", nulls("servico_key")),
            ("fact_ida.variavel_key_not_null", nulls("variavel_key")),
            ("fact_ida.valor_not_null", nulls("valor")),
            ("fact_ida.arquivo_origem_not_null", nulls("arquivo_origem")),
            ("fact_ida.hash_registro_not_null", nulls("hash_registro")),
            ("fact_ida.uk_fact_ida_unique",
             dups("tempo_key", "grupo_key", "servico_key", "variavel_key")),
            ("fact_ida.uk_fact_ida_hash", dups("hash_registro")),
        ]),
    ]
    out = audits[0]
    for a in audits[1:]:
        out = out.unionByName(a)
    # execute the bounded (33-row) audit inside a non-adaptive
    # 1-partition scope: AQE materializes EVERY exchange as its own job
    # (the r11 form ran 20 jobs per invocation — pure scheduler fixed
    # cost on a 25-row input); with AQE off and one shuffle partition
    # the whole union runs as one job.  scoped_conf binds at execution,
    # so the bounded frame is materialized inside the scope.
    with scoped_conf(
        spark,
        {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": "1",
        },
    ):
        return materialize(out.orderBy("constraint_name"))
