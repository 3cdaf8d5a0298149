"""Data-governance / audit operators (round 7).

Three audits a production warehouse runs continuously, each in the
exact-arithmetic oracle discipline:

- xq31_benford_digit_audit — first-significant-digit distribution of a
  monetary column against Benford's law (the classic fraud/synthetic-
  data screen).  Digit extraction is integer-string based (no log10 —
  libm is banned for bit-exactness, ROUND_NOTES trap 6); the Benford
  expectations are nine shared literal constants.
- xq32_fd_violation_audit — functional-dependency violation scan
  (does X → Y hold?), the schema-constraint audit behind "is this
  column actually determined by that key".
- xt30_shard_fingerprint — order-independent per-shard content
  checksum for reproducible training-data delivery: any engine (or any
  row order, any partitioning) must produce the identical fingerprint
  for identical shard content.

Reference scope: the reference enforces row-hash uniqueness at load
time (schema_star.sql:93 UNIQUE(hash_registro)); these generalize that
posture to distribution-, dependency- and content-level auditing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..session import materialize
from ..sources.tables import table

# Benford P(d) = log10(1 + 1/d): literal doubles shared by both engines
# (computed once offline; NO runtime log10 — libm differs in last ulps
# across engines, these literals parse to identical IEEE doubles).
_BENFORD = {
    1: "0.3010299956639812",
    2: "0.17609125905568124",
    3: "0.12493873660829993",
    4: "0.09691001300805642",
    5: "0.07918124604762482",
    6: "0.06694678963061322",
    7: "0.05799194697768673",
    8: "0.05115252244738129",
    9: "0.04575749056067514",
}

_BENFORD_SQL_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in _BENFORD.items()
) + " END"


@register(
    "xq31_benford_digit_audit",
    f"""
    WITH cents AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS c
        FROM orders WHERE o_totalprice > 0),
    d AS (
        SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit,
               CAST(COUNT(*) AS BIGINT) AS n_obs
        FROM cents GROUP BY 1),
    t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM d)
    SELECT digit, n_obs,
           ROUND(CAST(t.n AS DOUBLE) * {_BENFORD_SQL_CASE}, 4)
             AS n_expected,
           ROUND((CAST(n_obs AS DOUBLE)
                  - CAST(t.n AS DOUBLE) * {_BENFORD_SQL_CASE})
                 * (CAST(n_obs AS DOUBLE)
                    - CAST(t.n AS DOUBLE) * {_BENFORD_SQL_CASE})
                 / (CAST(t.n AS DOUBLE) * {_BENFORD_SQL_CASE}), 6)
             AS chi2_term
    FROM d, t
    """,
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order values: observed counts of the
    first significant digit of the integer-cents amount vs the Benford
    expectation, with the per-digit chi-square contribution (large terms
    localize WHICH digit deviates — the auditor's drill-down).

    Digit extraction without libm: cents is an exact BIGINT
    (DECIMAL(18,2)·100), and the first digit of a positive integer is
    the first character of its decimal string — integer-to-string is
    exact and identical on every engine, unlike floor(x/10^floor(log10
    x)).  The nine Benford probabilities are shared literal doubles, so
    the expectation and chi-square arithmetic are the same IEEE trees on
    both sides.  Scale shape: one map-side-combined digit aggregate
    (9-row output) + a broadcast single-row total; the raw fact is
    scanned once."""
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    cents = o.select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("c")
    )
    d = cents.groupBy(
        F.substring(F.col("c").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    ).agg(F.count("*").alias("n_obs"))
    t = d.agg(F.sum("n_obs").alias("n"))
    expr = None
    for dig, prob in _BENFORD.items():
        branch = F.when(F.col("digit") == dig, F.lit(float(prob)))
        expr = branch if expr is None else expr.when(
            F.col("digit") == dig, F.lit(float(prob))
        )
    exp_n = F.col("n").cast("double") * expr
    dev = F.col("n_obs").cast("double") - exp_n
    return (
        d.crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n_obs",
            F.round(exp_n, 4).alias("n_expected"),
            F.round(dev * dev / exp_n, 6).alias("chi2_term"),
        )
    )


@register(
    "xq32_fd_violation_audit",
    """
    WITH g AS (
        SELECT o_custkey,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_rhs
        FROM orders GROUP BY o_custkey),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(COUNT(*) FILTER (WHERE n_rhs > 1) AS BIGINT)
                 AS n_violating
        FROM g)
    SELECT g.o_custkey, g.n_orders, g.n_rhs, s.n_keys, s.n_violating
    FROM g, s WHERE g.n_rhs > 1
    ORDER BY g.n_rhs DESC, g.n_orders DESC, g.o_custkey
    LIMIT 20
    """,
)
def q_fd_violation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency violation audit: does o_custkey →
    o_orderpriority hold?  (It should NOT in healthy data — a customer
    places orders at many priorities; asserting and MEASURING candidate
    FDs is how schema-inference and data-contract tools decide which
    constraints to enforce.)  Output: the 20 worst violating keys (most
    distinct right-hand values, deterministic tie-break) with the global
    violation census alongside.

    Scale shape: one (key → count, count-distinct) aggregate — partial
    count-distinct expands to (key, rhs) dedup then a count, both linear
    and key-uniform; the census is a 1-row aggregate over the key frame
    (broadcast back); top-20 is TakeOrderedAndProject.  No window, no
    self-join."""
    o = table(spark, sf_dir, "orders")
    # two consumers (census, violating-key output) of a key-bounded
    # frame; census rides a broadcast.  Rebuilding it per consumer was
    # slower at sf0.1: 0.87 → 1.05 s, in 6 of 6 interleaved pairs
    g = materialize(
        o.groupBy("o_custkey").agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_orderpriority").alias("n_rhs"),
        )
    )
    s = g.agg(
        F.count("*").alias("n_keys"),
        F.sum((F.col("n_rhs") > 1).cast("long")).alias("n_violating"),
    )
    return (
        g.where(F.col("n_rhs") > 1)
        .crossJoin(F.broadcast(s))
        .orderBy(F.col("n_rhs").desc(), F.col("n_orders").desc(), "o_custkey")
        .limit(20)
        .select("o_custkey", "n_orders", "n_rhs", "n_keys", "n_violating")
    )


_N_SHARDS = 8


@register(
    "xt30_shard_fingerprint",
    f"""
    WITH h AS (
        SELECT doc_id % {_N_SHARDS} AS shard,
               CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS hk
        FROM documents)
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(CAST(SUM(CAST(hk AS DECIMAL(38,0))) AS DECIMAL(38,0))
                AS VARCHAR) AS sum_fp,
           bit_xor(hk) AS xor_fp
    FROM h GROUP BY shard
    """,
)
def q_shard_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent per-shard content fingerprint for reproducible
    training-data delivery: shard assignment by doc_id, per-row content
    key = first 60 bits of md5(text), reduced with two commutative-
    associative folds (exact DECIMAL sum + XOR).  Any row order, any
    partitioning, any engine yields the identical (sum, xor) pair —
    the delivery manifest a consumer re-derives to verify a shard
    arrived intact (the Parquet-file-level md5 of xs3 cannot do this:
    it fingerprints BYTES, which differ across writers; this
    fingerprints CONTENT).

    Cross-engine hex→int: Spark conv(hex, 16, 10) and DuckDB
    CAST('0x'||hex AS BIGINT) parse the same 15-hex-char (60-bit,
    sign-safe) prefix to the same integer.  Scale shape: one map-side-
    combined aggregate, output = shard count rows; md5 is JVM-side
    codegen.  XOR detects transpositions SUM misses and vice versa
    (sum catches duplicate-row injection that XOR cancels)."""
    d = table(spark, sf_dir, "documents")
    h = d.select(
        (F.col("doc_id") % _N_SHARDS).alias("shard"),
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10)
        .cast("long")
        .alias("hk"),
    )
    return h.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("hk").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        # string-typed on both engines: a >int64 decimal round-trips
        # DuckDB->pandas as float otherwise (ROUND_NOTES trap 16 family)
        .cast("string")
        .alias("sum_fp"),
        F.bit_xor("hk").alias("xor_fp"),
    )


@register(
    "xq36_referential_integrity_audit",
    """
    WITH checks AS (
        SELECT 'lineitem->orders' AS relation,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_child,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
                 AS n_orphan
        UNION ALL
        SELECT 'orders->customer',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))
        UNION ALL
        SELECT 'customer->nation',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM customer),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM nation n
                                  WHERE n.n_nationkey = c.c_nationkey))
        UNION ALL
        SELECT 'lineitem->part',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM part p
                                  WHERE p.p_partkey = l.l_partkey)))
    SELECT relation, n_child, n_orphan FROM checks
    """,
)
def q_referential_integrity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Referential-integrity audit across the star's four FK edges:
    orphan counts per child→parent relation — the constraint check a
    lake has to run explicitly because parquet enforces nothing (the
    reference gets it from Postgres FOREIGN KEYs, schema_star.sql; this
    is the same guarantee as a continuous audit).

    Scale shape: each check is ONE left-anti join — fact keyed on its
    FK (co-partitioned with the parent at 100 TB; small parents like
    nation broadcast via AQE) — plus a count.  No correlated
    subqueries execute as such: Catalyst rewrites anti-joins into
    hash joins.  Output is one bounded row per relation."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    p = table(spark, sf_dir, "part")

    def check(name, child, fk, parent, pk):
        # fully declarative 1-row frame: total + anti-join orphan count
        total = child.agg(F.count("*").alias("n_child"))
        orphans = child.join(
            parent.select(pk), child[fk] == F.col(pk), "left_anti"
        ).agg(F.count("*").alias("n_orphan"))
        return total.crossJoin(F.broadcast(orphans)).select(
            F.lit(name).alias("relation"), "n_child", "n_orphan"
        )

    checks = [
        check("lineitem->orders", li, "l_orderkey", o, "o_orderkey"),
        check("orders->customer", o, "o_custkey", c, "c_custkey"),
        check("customer->nation", c, "c_nationkey", n, "n_nationkey"),
        check("lineitem->part", li, "l_partkey", p, "p_partkey"),
    ]
    out = checks[0]
    for ch in checks[1:]:
        out = out.unionByName(ch)
    return out
