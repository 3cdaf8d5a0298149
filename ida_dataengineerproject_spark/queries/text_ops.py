"""Text-analysis queries (driver extension x04) over `documents`.

Language-ID, quality scoring, token counting, fingerprinting — all pure
built-in expressions with DuckDB oracle twins.  Shared tokenizer convention:
trim → split /\\s+/ (== regexp_split_to_array in DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textstats import (
    LANG_MARKERS,
    avg_token_len,
    lang_id,
    n_tokens,
    n_unique_tokens,
    quality_score,
    token_count_bpe_ish,
    type_token_ratio,
)
from ..registry import register
from ..session import materialize
from ..sources.tables import table

_TOKS = "regexp_split_to_array(trim(text), '\\s+')"


@register(
    "x04_text_stats",
    f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS INTEGER) AS n_tok,
           CAST(len(list_distinct({_TOKS})) AS INTEGER) AS n_uniq,
           CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE)
             / len({_TOKS}) AS avg_tok_len,
           CAST(len(list_distinct({_TOKS})) AS DOUBLE) / len({_TOKS}) AS ttr
    FROM documents
    """,
)
def q_x04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char statistics (x04): counts, mean token length, type-token
    ratio — single projection, no shuffle, codegen'd end-to-end."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        n_tokens("text").alias("n_tok"),
        n_unique_tokens("text").alias("n_uniq"),
        avg_token_len("text").alias("avg_tok_len"),
        type_token_ratio("text").alias("ttr"),
    )


def _marker_count_sql(code: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_MARKERS[code])
    return (
        f"CAST(len(list_filter({_TOKS}, t -> list_contains([{words}], lower(t)))) AS INTEGER)"
    )


@register(
    "x04b_lang_id",
    f"""
    SELECT doc_id, lang,
           CASE WHEN m = 0 THEN 'und'
                WHEN c_en = m THEN 'en'
                WHEN c_es = m THEN 'es'
                WHEN c_fr = m THEN 'fr'
                WHEN c_de = m THEN 'de'
                ELSE 'pt' END AS lang_pred
    FROM (
      SELECT doc_id, lang,
             c_en, c_es, c_fr, c_de, c_pt,
             greatest(c_en, c_es, c_fr, c_de, c_pt) AS m
      FROM (
        SELECT doc_id, lang,
               {_marker_count_sql('en')} AS c_en,
               {_marker_count_sql('es')} AS c_es,
               {_marker_count_sql('fr')} AS c_fr,
               {_marker_count_sql('de')} AS c_de,
               {_marker_count_sql('pt')} AS c_pt
        FROM documents))
    """,
)
def q_x04b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID by stopword voting (x04): argmax of per-language
    marker-token hits; ties go to the first language in list order — the
    same rule the oracle's CASE implements."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", lang_id("text").alias("lang_pred"))


@register(
    "x04c_quality_score",
    f"""
    SELECT doc_id,
           ROUND((
             (CASE WHEN length(text) BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.0 END)
             + (CAST(len(list_distinct({_TOKS})) AS DOUBLE) / len({_TOKS}))
             + least((CAST(len(list_filter({_TOKS},
                    t -> list_contains(['the','a','of','and','to','in','is','that'],
                                       lower(t)))) AS DOUBLE)
                      / len({_TOKS})) * 5, 1.0)
           ) / 3.0, 6) AS quality
    FROM documents
    """,
)
def q_x04c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality heuristic (x04): length gate + lexical diversity +
    bounded stopword ratio, the cheap-signal trio of pretraining filters."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score("text").alias("quality"))


@register(
    "x04d_token_count_bpe",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER)
             AS n_bpe_ish
    FROM documents
    """,
)
def q_x04d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (x04): alpha/digit/punct pre-tokenizer regex,
    counted via regexp_extract_all — same RE2-compatible pattern both
    engines."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", token_count_bpe_ish("text").alias("n_bpe_ish"))


_POW31 = [31**p for p in range(8)]  # 31^0 .. 31^7, max term 127*31^7 < 2^63


@register(
    "x04e_fingerprint",
    f"""
    SELECT doc_id,
           CAST(CASE WHEN length(norm) >= 8
                THEN list_aggregate(list_transform(range(1, length(norm) - 6),
                       i -> {" + ".join(
                           f"CAST(ascii(substr(norm, i + {j}, 1)) AS BIGINT)"
                           f" * {_POW31[7 - j]}"
                           for j in range(8))}), 'min')
                ELSE list_sum(list_transform(range(1, length(norm) + 1),
                       i -> CAST(ascii(substr(norm, i, 1)) AS BIGINT)
                            * CAST(pow(31, length(norm) - i) AS BIGINT)))
           END AS BIGINT) AS fingerprint
    FROM (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
          FROM documents)
    """,
)
def q_x04e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling fingerprint (x04): min Karp-Rabin
    polynomial hash (base-31 over byte codes, the classic rolling-hash
    family) across 8-char windows of normalized text — one representative
    value per document.

    Replaces round 1's md5-per-window variant: values are pure int64
    arithmetic (engine-independent, exactly reproduced by the DuckDB
    oracle), computed Spark-side as one Arrow-batched sliding-window
    matmul per batch (textstats.rolling_fingerprint_kr) — normalization
    stays a JVM expression, only the dense numeric kernel crosses to
    numpy.  Codes are Unicode codepoints (UTF-32 decode), matching the
    oracle's per-character ascii() for any text."""
    from ..functions.textstats import rolling_fingerprint_kr

    d = table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return d.select(
        "doc_id", rolling_fingerprint_kr(norm).alias("fingerprint")
    )


_IIDX_TERMS = ("dup", "vector", "merge")  # one rare term (~5% df) + two common


@register(
    "xt19_inverted_index_search",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) AS id_mass,
           CAST(COALESCE(MIN(doc_id), -1) AS BIGINT) AS first_doc
    FROM (SELECT doc_id,
                 list_transform({_TOKS}, t -> lower(t)) AS lt
          FROM documents)
    WHERE list_contains(lt, '{_IIDX_TERMS[0]}')
      AND list_contains(lt, '{_IIDX_TERMS[1]}')
      AND list_contains(lt, '{_IIDX_TERMS[2]}')
    """,
)
def inverted_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index conjunctive keyword search: materialize distinct
    (token, doc_id) posting pairs range-partitioned and sorted by token
    (so a term probe is a pushed parquet predicate + row-group skip —
    the at-rest layout of a real text index), then answer
    `dup AND vector AND merge` by probing the three posting ranges and
    keeping doc_ids that matched all three terms (count-distinct == 3).

    The oracle answers the same query by brute-force scanning every
    document's token list — parity proves the index is LOSSLESS for
    conjunctive search.  100 TB: the scan arm reads the whole corpus per
    query; the index arm reads |postings of the query terms| (here the
    rare term 'dup' bounds the candidate set at ~5% of docs), and the
    posting build is one explode + distinct, amortized over every query
    against it."""
    docs = table(spark, sf_dir, "documents")
    from .scale_ops import _scratch_dir

    pairs = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.split(F.trim(F.col("text")), r"\s+"),
                    lambda t: F.lower(t),
                )
            )
        ).alias("token"),
    ).filter(F.col("token") != "")
    idx = _scratch_dir("iidx", sf_dir) + "/postings"
    (
        pairs.repartitionByRange(8, "token")
        .sortWithinPartitions("token", "doc_id")
        .write.mode("overwrite")
        .parquet(idx)
    )
    spark.catalog.refreshByPath(idx)

    hits = spark.read.parquet(idx).filter(
        F.col("token").isin(*_IIDX_TERMS)
    )
    matched = (
        hits.groupBy("doc_id")
        .agg(F.countDistinct("token").alias("nt"))
        .filter(F.col("nt") == len(_IIDX_TERMS))
    )
    return matched.agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum("doc_id"), F.lit(0)).alias("id_mass"),
        F.coalesce(F.min("doc_id"), F.lit(-1)).alias("first_doc"),
    )


_QUALITY_SQL = f"""ROUND((
             (CASE WHEN length(text) BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.0 END)
             + (CAST(len(list_distinct({_TOKS})) AS DOUBLE) / len({_TOKS}))
             + least((CAST(len(list_filter({_TOKS},
                    t -> list_contains(['the','a','of','and','to','in','is','that'],
                                       lower(t)))) AS DOUBLE)
                      / len({_TOKS})) * 5, 1.0)
           ) / 3.0, 6)"""


@register(
    "x30_rrf_fusion",
    f"""
    WITH q AS (
        SELECT doc_id, n_chars, {_QUALITY_SQL} AS quality FROM documents),
    r AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY quality DESC, doc_id) AS r_q,
               ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS r_len
        FROM q)
    SELECT doc_id, CAST(r_q AS BIGINT) AS r_q, CAST(r_len AS BIGINT) AS r_len,
           ROUND(1.0 / (60 + r_q) + 1.0 / (60 + r_len), 8) AS rrf
    FROM r
    ORDER BY 1.0 / (60 + r_q) + 1.0 / (60 + r_len) DESC, doc_id
    LIMIT 50
    """,
)
def q_x30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two document orderings (quality score
    and length) — THE standard way to combine heterogeneous rankers
    (Cormack et al. 2009): score = Σ 1/(k + rank_i), k = 60, no score
    calibration needed because only ranks enter.

    Scale shape: each ranking comes from global_rank (bucketed
    two-level rank — the oracle's ROW_NUMBER() OVER (ORDER BY …) is the
    single-partition cliff it replaces), whose min/max bucket probes
    are embedded in the plan: the r8 profile showed an eager shared
    approxQuantile job was 0.94 s of the 1.29 s wall, so both probe
    aggregates ride the single main job over the checkpointed
    3-column frame (its broadcast exchanges are reused across the rank
    branches).  The fusion join keys on doc_id (co-partitioned,
    high-cardinality) and the top-50 is TakeOrderedAndProject.  A
    fully-chained form (second rank windowing over the first rank's
    output, no fusion join) was measured SLOWER (1.9-2.3 s vs 1.4-1.7 s
    warm at sf0.1) — rank-2's bucket-count arm re-traverses rank-1's
    join lineage; probe in ROUND_NOTES round 7.  RRF arithmetic is two
    IEEE-exact divisions plus one add, so scores hash-match
    bit-for-bit; both rank orders are total (tie-break doc_id), so the
    LIMIT boundary is deterministic."""
    from ..operators.ranking import global_rank

    # rank pipelines traverse this projection several times
    # (bucket-count + join re-read per ranker, boundary aggregates);
    # materialize the 3-column frame once so the text scan + quality
    # expression run a single time
    d = materialize(
        table(spark, sf_dir, "documents").select(
            "doc_id",
            (-F.col("n_chars")).alias("nl"),
            (-quality_score("text")).alias("nq"),
        )
    )
    rq = global_rank(
        d.select("doc_id", "nq"), "nq", ["doc_id"], rank_col="r_q"
    ).select("doc_id", "r_q")
    rl = global_rank(
        d.select("doc_id", "nl"), "nl", ["doc_id"], rank_col="r_len"
    ).select("doc_id", "r_len")
    j = rq.join(rl, "doc_id")
    rrf = F.lit(1.0) / (F.lit(60) + F.col("r_q")) + F.lit(1.0) / (
        F.lit(60) + F.col("r_len")
    )
    return (
        j.select(
            "doc_id",
            F.col("r_q").cast("long").alias("r_q"),
            F.col("r_len").cast("long").alias("r_len"),
            F.round(rrf, 8).alias("rrf"),
            rrf.alias("__exact"),
        )
        # order by the UNROUNDED score (as the oracle does) so the LIMIT
        # boundary never depends on a rounding collision
        .orderBy(F.col("__exact").desc(), "doc_id")
        .limit(50)
        .drop("__exact")
    )


@register(
    "xt27_dataset_datasheet",
    f"""
    WITH q AS (
        SELECT doc_id, source, lang, n_chars,
               {_QUALITY_SQL} AS quality,
               md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
                 AS fp
        FROM documents),
    per_lang AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
        FROM q GROUP BY source, lang),
    top_lang AS (
        SELECT source,
               first(lang ORDER BY c DESC, lang) AS top_lang,
               first(c ORDER BY c DESC, lang) AS top_c
        FROM per_lang GROUP BY source),
    agg AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               SUM(CAST(quality AS DECIMAL(18,6))) AS qsum,
               CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_uniq
        FROM q GROUP BY source)
    SELECT agg.source, n_docs, total_chars,
           ROUND(CAST(qsum AS DOUBLE) / n_docs, 6) AS avg_quality,
           top_lang.top_lang,
           ROUND(CAST(top_c AS DOUBLE) / n_docs, 6) AS top_lang_share,
           ROUND(1.0 - CAST(n_uniq AS DOUBLE) / n_docs, 6) AS dup_rate
    FROM agg JOIN top_lang ON top_lang.source = agg.source
    """,
)
def q_xt27(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset datasheet — the governance summary a training-
    data pipeline publishes per corpus slice (Gebru et al., 'Datasheets
    for Datasets'): document and character volumes, mean quality score,
    dominant language with its share, and the exact-duplicate rate
    (1 − distinct fingerprints / docs).

    Exactness: per-doc quality doubles are engine-identical (x04c's
    contract); their mean accumulates in DECIMAL(18,6) so ordering
    cannot drift the sum; every share is a single IEEE division over
    exact counts.  The dominant language picks deterministically —
    min_by over a (−count, lang) struct key in Spark, an ordered-first
    aggregate in DuckDB.  Scale shape: one source-keyed aggregate with
    a distinct-count (map-side combined), one (source × lang) rollup
    (both dimension-bounded outputs), one broadcast join — the whole
    datasheet is two linear passes."""
    from ..functions.hashing import text_fingerprint

    d = table(spark, sf_dir, "documents").select(
        "source",
        "lang",
        "n_chars",
        quality_score("text").alias("quality"),
        text_fingerprint("text").alias("fp"),
    )
    per_lang = d.groupBy("source", "lang").agg(F.count("*").alias("c"))
    top_lang = per_lang.groupBy("source").agg(
        F.min_by("lang", F.struct(-F.col("c"), F.col("lang"))).alias(
            "top_lang"
        ),
        F.min_by("c", F.struct(-F.col("c"), F.col("lang"))).alias("top_c"),
    )
    agg = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.col("quality").cast("decimal(18,6)")).alias("qsum"),
        F.countDistinct("fp").alias("n_uniq"),
    )
    return agg.join(F.broadcast(top_lang), "source").select(
        "source",
        "n_docs",
        "total_chars",
        F.round(
            F.col("qsum").cast("double") / F.col("n_docs"), 6
        ).alias("avg_quality"),
        "top_lang",
        F.round(
            F.col("top_c").cast("double") / F.col("n_docs"), 6
        ).alias("top_lang_share"),
        F.round(
            F.lit(1.0) - F.col("n_uniq").cast("double") / F.col("n_docs"),
            6,
        ).alias("dup_rate"),
    )


@register(
    "xt31_length_token_correlation",
    r"""
    WITH s AS (
        SELECT source,
               CAST(n_chars AS BIGINT) AS x,
               CAST(len(regexp_extract_all(text,
                    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS y
        FROM documents),
    agg AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
               CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(x * y) AS DECIMAL(38,0)) AS sxy,
               CAST(SUM(x * x) AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(y * y) AS DECIMAL(38,0)) AS syy
        FROM s GROUP BY source)
    SELECT source, n,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) AS pearson_r
    FROM agg
    """,
)
def q_length_token_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between document length (chars) and BPE-ish
    token count, per source — the data-profiling statistic behind "is
    char length a usable proxy for token budget in this corpus".

    Bit-exact WITHOUT a tolerance: the sufficient statistics (n, Σx,
    Σy, Σxy, Σx², Σy²) accumulate as exact DECIMAL(38,0) integers
    (order-independent), and the closing formula uses only +, −, ×, /
    and sqrt — ALL of which IEEE 754 requires to be correctly rounded
    (sqrt is NOT a libm transcendental; the xt22 trap applies to
    log/exp only).  Both engines therefore compute the identical
    double, and the oracle hash-matches with zero slack.

    Scale shape: ONE map-side-combined aggregate per source (the
    pre-tokenizer regex runs in codegen); output is source-bounded."""
    from ..functions.textstats import token_count_bpe_ish

    d = table(spark, sf_dir, "documents").select(
        "source",
        F.col("n_chars").cast("long").alias("x"),
        token_count_bpe_ish("text").cast("long").alias("y"),
    )
    agg = d.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    return agg.select(
        "source",
        "n",
        F.round(
            (nd * sxy - sx * sy)
            / (F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)),
            6,
        ).alias("pearson_r"),
    )
