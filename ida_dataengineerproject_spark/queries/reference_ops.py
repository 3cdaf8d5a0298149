"""Reference-parity queries (SURVEY.md §2 op01-op42) on driver testdata.

Each query exercises one (or one tight cluster of) reference operators with a
DuckDB oracle twin.  Citations in docstrings point at the reference
implementation (/root/reference/) being reproduced.

Numeric rule: float aggregates go through the exact-decimal pattern
(functions/aggs.py) so Spark and DuckDB values are bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.aggs import avg_exact, sum_exact
from ..functions.calendar import calendar_columns
from ..functions.hashing import record_hash
from ..functions.numparse import parse_locale_number
from ..operators.cleaning import recode
from ..operators.reshape import pivot_groups
from ..operators.upsert import dedup_against
from ..plans.taxa_variacao import (
    TAXA_VARIACAO_ORACLE_SQL,
    taxa_variacao,
    taxa_variacao_bucketed,
)
from ..registry import register
from ..sources.tables import table


@register("flagship_taxa_variacao", TAXA_VARIACAO_ORACLE_SQL)
def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vw_taxa_variacao (schema_star.sql:108-164) role-mapped onto testdata.
    Covers op13/14/17/23/26-29/31-35/39-41 in one pipeline."""
    return taxa_variacao(spark, sf_dir)


@register("flagship_taxa_variacao_bucketed", TAXA_VARIACAO_ORACLE_SQL)
def q_flagship_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship over bucketed-at-rest fact tables: same semantics and
    oracle, but the lineitem⋈orders join runs Exchange-free off catalog
    bucketed tables (plans/taxa_variacao.py::taxa_variacao_bucketed) —
    the storage posture that deletes the 45 M-row shuffle dominating the
    plain arm's x100 profile."""
    return taxa_variacao_bucketed(spark, sf_dir)


# ---------------------------------------------------------------- op11/op12
@register(
    "op11_filter_blank_rows",
    """
    SELECT o_orderkey, o_orderpriority
    FROM orders
    WHERE o_orderpriority IS NOT NULL AND TRIM(o_orderpriority) <> ''
      AND LOWER(TRIM(o_orderpriority)) <> 'nan' AND o_orderstatus = 'O'
    """,
)
def q_op11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null/blank-row filter (etl/etl_ida.py:318-327) + scalar predicate."""
    o = table(spark, sf_dir, "orders")
    c = F.trim(F.col("o_orderpriority"))
    return o.filter(
        F.col("o_orderpriority").isNotNull()
        & (c != "")
        & (F.lower(c) != "nan")
        & (F.col("o_orderstatus") == "O")
    ).select("o_orderkey", "o_orderpriority")


# -------------------------------------------------------------------- op16
@register(
    "op16_unpivot_measures",
    """
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS variavel, l_quantity AS valor FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
)
def q_op16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot wide→long (etl/etl_ida.py:337-372): lineitem measures become
    EAV records — the reference's month-melt, same Expand-node plan,
    shuffle-free."""
    li = table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "variavel",
        "valor",
    )


# -------------------------------------------------------------------- op17
@register(
    "op17_pivot_groups",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN l_returnflag='A' THEN CAST(l_quantity AS DECIMAL(38,2)) END) AS DOUBLE) AS qty_a,
           CAST(SUM(CASE WHEN l_returnflag='N' THEN CAST(l_quantity AS DECIMAL(38,2)) END) AS DOUBLE) AS qty_n,
           CAST(SUM(CASE WHEN l_returnflag='R' THEN CAST(l_quantity AS DECIMAL(38,2)) END) AS DOUBLE) AS qty_r
    FROM lineitem GROUP BY l_linestatus
    """,
)
def q_op17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot long→wide with explicit value list (schema_star.sql:151-160);
    avoids Spark's distinct-values job, fixes column order."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(sum_exact("l_quantity"))
        .withColumnsRenamed({"A": "qty_a", "N": "qty_n", "R": "qty_r"})
    )


# -------------------------------------------------------------------- op19/op20
_NATION_RECODE = {"NATION_0": "N0", "NATION_1": "N1", "NATION_2": "N2"}

@register(
    "op19_dict_recode",
    """
    SELECT n_nationkey,
           CASE TRIM(n_name) WHEN 'NATION_0' THEN 'N0' WHEN 'NATION_1' THEN 'N1'
                WHEN 'NATION_2' THEN 'N2' ELSE TRIM(n_name) END AS n_code
    FROM nation
    """,
)
def q_op19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary recode with pass-through on miss (etl/etl_ida.py:406-420):
    literal create_map + coalesce — constant-folded, no join, no UDF."""
    n = table(spark, sf_dir, "nation")
    return n.select("n_nationkey", recode("n_name", _NATION_RECODE).alias("n_code"))


_PRIORITY_RECODE = {"1-URGENT": "URG", "2-HIGH": "HIGH", "3-MEDIUM": "MED"}

@register(
    "op20_variable_recode",
    r"""
    SELECT o_orderkey,
           CASE regexp_replace(TRIM(raw_label), '\s+', ' ', 'g')
                WHEN '1-URGENT' THEN 'URG' WHEN '2-HIGH' THEN 'HIGH'
                WHEN '3-MEDIUM' THEN 'MED'
                ELSE regexp_replace(TRIM(raw_label), '\s+', ' ', 'g') END AS var_code
    FROM (SELECT o_orderkey, CONCAT('  ', o_orderpriority, ' ') AS raw_label
          FROM orders)
    """,
)
def q_op20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-label recode with pass-through on miss (etl/etl_ida.py:178-192):
    the reference maps long ANATEL variable labels to stable codes and leaves
    unknown labels untouched.  Labels here carry the reference's padding
    (leading/trailing whitespace) so the clean-then-recode order is exercised;
    '4-NOT SPECIFIED'/'5-LOW' are deliberate misses that must pass through.
    Same literal create_map + coalesce plan as op19 — constant-folded,
    zero-join, zero-UDF."""
    o = table(spark, sf_dir, "orders")
    raw = F.concat(F.lit("  "), F.col("o_orderpriority"), F.lit(" "))
    return o.select(
        "o_orderkey", recode(raw, _PRIORITY_RECODE).alias("var_code")
    )


# -------------------------------------------------------------------- op21
_DIRTY_SQL = """
    CASE CAST(doc_id % 7 AS INTEGER)
        WHEN 0 THEN '-'
        WHEN 1 THEN CONCAT(CAST(n_chars AS VARCHAR), ',', CAST(doc_id % 100 AS VARCHAR))
        WHEN 2 THEN CONCAT(CAST(doc_id % 90 AS VARCHAR), ',5%')
        WHEN 3 THEN 'nan'
        WHEN 4 THEN CONCAT('  ', CAST(n_chars AS VARCHAR), '  ')
        WHEN 5 THEN 'abc'
        ELSE CAST(n_chars AS VARCHAR)
    END
"""

@register(
    "op21_locale_numeric_parse",
    f"""
    SELECT doc_id, dirty,
           TRY_CAST(REPLACE(REPLACE(TRIM(dirty), ',', '.'), '%', '') AS DOUBLE) AS parsed
    FROM (SELECT doc_id, {_DIRTY_SQL} AS dirty FROM documents)
    """,
)
def q_op21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Locale-tolerant numeric parse (etl/etl_ida.py:422-429): comma-decimal,
    percent-strip, NULL on failure (ANSI off = the reference's None).
    Dirty strings are synthesized deterministically from documents."""
    d = table(spark, sf_dir, "documents")
    dirty = (
        F.when(F.col("doc_id") % 7 == 0, F.lit("-"))
        .when(F.col("doc_id") % 7 == 1,
              F.concat_ws(",", F.col("n_chars").cast("string"),
                          (F.col("doc_id") % 100).cast("string")))
        .when(F.col("doc_id") % 7 == 2,
              F.concat((F.col("doc_id") % 90).cast("string"), F.lit(",5%")))
        .when(F.col("doc_id") % 7 == 3, F.lit("nan"))
        .when(F.col("doc_id") % 7 == 4,
              F.concat(F.lit("  "), F.col("n_chars").cast("string"), F.lit("  ")))
        .when(F.col("doc_id") % 7 == 5, F.lit("abc"))
        .otherwise(F.col("n_chars").cast("string"))
    )
    return d.select(
        "doc_id",
        dirty.alias("dirty"),
        parse_locale_number(dirty).alias("parsed"),
    )


# -------------------------------------------------------------------- op22/op23
@register(
    "op23_month_normalize",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m') AS mes,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mes_inicio
    FROM orders
    """,
)
def q_op23(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month normalization + formatting (etl/etl_ida.py:350-359;
    schema_star.sql:111): date_format / date_trunc built-ins."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("mes"),
        F.date_trunc("month", F.col("o_orderdate")).alias("mes_inicio"),
    )


# -------------------------------------------------------------------- op24
@register(
    "op24_calendar_derivations",
    """
    SELECT ano, mes, mes_nome, trimestre, semestre, COUNT(*) AS n_orders
    FROM (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS ano,
             CAST(month(o_orderdate) AS INTEGER) AS mes,
             CASE month(o_orderdate)
               WHEN 1 THEN 'Janeiro' WHEN 2 THEN 'Fevereiro' WHEN 3 THEN 'Março'
               WHEN 4 THEN 'Abril' WHEN 5 THEN 'Maio' WHEN 6 THEN 'Junho'
               WHEN 7 THEN 'Julho' WHEN 8 THEN 'Agosto' WHEN 9 THEN 'Setembro'
               WHEN 10 THEN 'Outubro' WHEN 11 THEN 'Novembro' WHEN 12 THEN 'Dezembro'
             END AS mes_nome,
             CAST(quarter(o_orderdate) AS INTEGER) AS trimestre,
             CAST(FLOOR((month(o_orderdate) - 1) / 6.0) AS INTEGER) + 1 AS semestre
      FROM orders)
    GROUP BY ano, mes, mes_nome, trimestre, semestre
    """,
)
def q_op24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar derivations for dim_tempo (etl/etl_ida.py:560-579,
    schema_star.sql:198-235): year/month/pt-BR name/quarter/semester."""
    o = table(spark, sf_dir, "orders")
    cal = calendar_columns(o, "o_orderdate")
    return cal.groupBy("ano", "mes", "mes_nome", "trimestre", "semestre").agg(
        F.count("*").alias("n_orders")
    )


# -------------------------------------------------------------------- op25
@register(
    "op25_record_hash",
    """
    SELECT l_orderkey, l_linenumber,
           md5(concat_ws('|', l_orderkey, l_linenumber, l_returnflag, l_linestatus)) AS hash_registro
    FROM lineitem
    """,
)
def q_op25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MD5 record hash (etl/etl_ida.py:124-131): md5(concat_ws('|', ...)),
    JVM-side builtin, bit-identical to DuckDB md5."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        record_hash("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus").alias(
            "hash_registro"
        ),
    )


# -------------------------------------------------------------------- op30/op31
@register(
    "op31_star_join_revenue",
    """
    SELECT r.r_name AS regiao, n.n_name AS nacao,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS receita,
           COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def q_op31(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact↔dim key-resolution joins (etl/etl_ida.py:504-554;
    schema_star.sql:114-116): chained equi-joins, small dims broadcast
    explicitly so the fact never shuffles on the dim keys."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("regiao"), F.col("n_name").alias("nacao"))
        .agg(
            sum_exact("o_totalprice").alias("receita"),
            F.count("*").alias("n_orders"),
        )
    )


# -------------------------------------------------------------------- op36
@register(
    "op36_distinct_keys",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def q_op36(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct natural-key extraction for dimension ensure
    (etl/etl_ida.py:567-571)."""
    li = table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


# -------------------------------------------------------------------- op37
@register(
    "op37_dedup_on_hash",
    """
    SELECT doc_id, h AS hash_registro
    FROM (SELECT doc_id, md5(substr(text, 1, 40)) AS h,
                 row_number() OVER (PARTITION BY md5(substr(text, 1, 40))
                                    ORDER BY doc_id) AS rn
          FROM documents)
    WHERE rn = 1
    """,
)
def q_op37(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash dedup = ON CONFLICT (hash_registro) DO NOTHING
    (etl/etl_ida.py:534; schema_star.sql:93): keep first row per hash via
    row_number — deterministic, unlike dropDuplicates' arbitrary winner.
    Hashing a 40-char prefix manufactures real collisions."""
    d = table(spark, sf_dir, "documents")
    h = F.md5(F.substring("text", 1, 40))
    w = Window.partitionBy(h).orderBy("doc_id")
    return (
        d.select("doc_id", h.alias("hash_registro"), F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# -------------------------------------------------------------------- op38
@register(
    "op38_insert_if_absent_antijoin",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def q_op38(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Insert-if-absent upsert core (etl/etl_ida.py:573-620) = LEFT ANTI
    join: customers with no order above a threshold."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    existing = o.select(F.col("o_custkey").alias("c_custkey"))
    return dedup_against(c, existing, ["c_custkey"]).select("c_custkey", "c_name")


# -------------------------------------------------------------------- op39/op40
@register(
    "op40_lag_mom_delta",
    """
    SELECT grupo, mes, receita,
           ROUND(receita - LAG(receita) OVER (PARTITION BY grupo ORDER BY mes), 2) AS delta_mom
    FROM (SELECT l_returnflag AS grupo, strftime(l_shipdate, '%Y-%m') AS mes,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS receita
          FROM lineitem GROUP BY 1, 2)
    """,
)
def q_op40(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned LAG (schema_star.sql:132): month-over-month revenue delta
    per group.  Aggregation shrinks input to #groups×#months rows before the
    window — the 100 TB-safe ordering."""
    li = table(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.col("l_returnflag").alias("grupo"),
        F.date_format("l_shipdate", "yyyy-MM").alias("mes"),
    ).agg(sum_exact("l_extendedprice").alias("receita"))
    w = Window.partitionBy("grupo").orderBy("mes")
    return monthly.withColumn(
        "delta_mom", F.round(F.col("receita") - F.lag("receita").over(w), 2)
    )


# -------------------------------------------------------------------- op41/op42
@register(
    "op41_global_sort_limit",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def q_op41(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort + LIMIT (schema_star.sql:164; etl/etl_ida.py:644).
    Spark compiles this to TakeOrderedAndProject — no full sort, each
    partition keeps a 10-row heap.  Tiebreak on key for determinism."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )
