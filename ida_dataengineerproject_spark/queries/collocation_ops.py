"""Collocation (phrase) mining over the corpus — xt22 (round 5d).

Top bigrams by pointwise mutual information with a minimum-count
floor — the classic phrase-mining step before tokenizer/vocab work
(Mikolov et al. 2013 use the same count-ratio score to merge phrases).

Engine-exactness: PMI itself is log(p(ab)/(p(a)p(b))) but log is libm
(ROUND_NOTES trap: last-ulp differences across engines), and log is
MONOTONE — so rank by the exact ratio n_ab·N/(n_a·n_b) instead.  All
counts are exact integers; the score is computed in one fixed IEEE
double expression tree identical in both engines; top-k ties break on
the words themselves.

Plan: one token explode (reused for unigrams), bigrams from a per-doc
LEAD window (one shuffle by doc), vocabulary-bounded count aggregates,
unigram counts broadcast-joined twice, TakeOrderedAndProject for the
top-20 — nothing scans the corpus more than twice and nothing big is
globally sorted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..session import materialize
from ..sources.tables import table

MIN_COUNT = 5
TOP_K = 20
SHINGLE_K = 3


@register(
    "xt22_collocations_pmi",
    f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    tok AS (
        SELECT toks[i] AS w
        FROM d, unnest(generate_series(1, len(toks))) AS t(i)
    ),
    b AS (
        SELECT toks[i] AS w1, toks[i+1] AS w2
        FROM d, unnest(generate_series(1, len(toks) - 1)) AS t(i)
    ),
    u AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY w),
    c AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM b GROUP BY w1, w2 HAVING COUNT(*) >= {MIN_COUNT}
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM b)
    SELECT c.w1, c.w2, n_ab,
           CAST(n_ab AS DOUBLE) * CAST(n_tot AS DOUBLE)
           / (CAST(ua.n AS DOUBLE) * CAST(ub.n AS DOUBLE)) AS score
    FROM c, tot
    JOIN u ua ON ua.w = c.w1
    JOIN u ub ON ub.w = c.w2
    ORDER BY score DESC, w1, w2 LIMIT {TOP_K}
    """,
)
def q_xt22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_K} bigram collocations by exact PMI-monotone ratio."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = tok.select(
        F.col("tok").alias("w1"), F.lead("tok", 1).over(w).alias("w2")
    ).where(F.col("w2").isNotNull())
    c = big.groupBy("w1", "w2").agg(F.count("*").alias("n_ab")).where(
        F.col("n_ab") >= MIN_COUNT
    )
    uni = tok.groupBy(F.col("tok").alias("w")).agg(
        F.count("*").alias("n")
    )
    tot = big.agg(F.count("*").alias("n_tot"))
    ua = uni.select(F.col("w").alias("w1"), F.col("n").alias("n_a"))
    ub = uni.select(F.col("w").alias("w2"), F.col("n").alias("n_b"))
    score = (
        F.col("n_ab").cast("double") * F.col("n_tot").cast("double")
    ) / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    return (
        c.join(F.broadcast(ua), "w1")
        .join(F.broadcast(ub), "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "n_ab", score.alias("score"))
        .orderBy(F.desc("score"), "w1", "w2")
        .limit(TOP_K)
    )


@register(
    "x22_corpus_source_jaccard",
    f"""
    WITH d AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
    sh AS (
        SELECT DISTINCT source,
               array_to_string(toks[i:i+{SHINGLE_K - 1}], ' ') AS g
        FROM d, unnest(generate_series(1, len(toks) - {SHINGLE_K - 1})) AS t(i)
    ),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY source),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS n_inter
        FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT src_a, src_b, n_inter,
           CAST(n_inter AS DOUBLE)
           / CAST(sa.n + sb.n - n_inter AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.source = src_a
    JOIN sizes sb ON sb.source = src_b
    """,
)
def q_x22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level similarity: shingle-set Jaccard between SOURCES.

    The whole-corpus twin of x02 document dedup: how much do two data
    sources overlap?  Distinct (source, {SHINGLE_K}-gram) pairs
    self-equi-join on the shingle — cost Σ per-shingle source-count²
    (bounded by the source count, here ~5), never corpus².  Set sizes
    broadcast back; Jaccard = |A∩B| / (|A|+|B|−|A∩B|) as one double
    division over exact integer counts."""
    # round 6 rewrite: the r5 form exploded tokens through a per-doc
    # WINDOW (doc_id shuffle + sort), DISTINCTed (source, g), then
    # SELF-JOINED two recomputations of that pipeline on the shingle
    # string.  Now: shingling is the no-shuffle codegen expression
    # (ngram_shingles — one row stays one row); ONE groupBy(g) collects
    # each shingle's distinct source set; and a single explode emits
    # BOTH the ordered source pairs (src_a, src_b) and per-source size
    # tokens (src_a, NULL) from each set, so one tiny aggregate
    # (<= sources² + sources rows) carries intersections AND set sizes —
    # no join on shingle strings, no second pass over the corpus.  The
    # only checkpoint is that tiny aggregate (design rule 23).
    from ..functions.textstats import ngram_shingles

    docs = table(spark, sf_dir, "documents")
    # r8: hash each shingle to 64 bits INSIDE the array (transform stays
    # codegen, one row per doc until the explode) so the groupBy shuffles
    # bigints instead of ~30-byte shingle strings — controlled A/B at
    # sf0.1: 1.50 → 1.26 s for the core pipeline.  Set arithmetic on hashes equals set arithmetic on
    # strings absent xxhash64 collisions (P ≈ n²/2⁶⁵ ≈ 3e-6 at 10⁶
    # distinct shingles); the oracle computes on the strings, so the
    # both-SF hash-match parity runs verify the equality holds on the
    # actual data, and at any scale the error is cardinality-bounded.
    sh = docs.select(
        "source",
        F.explode(
            F.transform(ngram_shingles("text", SHINGLE_K), lambda s: F.xxhash64(s))
        ).alias("g"),
    )
    # r8: collapse per-shingle source-sets to DISTINCT SETS first — a
    # second aggregate over the array value, ≤ 2^|sources| output rows,
    # map-side combined in the same stage as the groupBy(g) output — and
    # expand source pairs from that tiny frame.  Wall-neutral at sf0.1
    # (the grouped-row explode it replaces was cheap codegen), but pair
    # emission is now O(distinct sets × sources²) instead of
    # O(grouped shingles) — the arm that stays flat as the corpus grows.
    grouped = sh.groupBy("g").agg(
        F.array_sort(F.collect_set("source")).alias("s")
    )
    sets = grouped.groupBy("s").agg(F.count("*").alias("cnt"))
    tokens = (
        "concat("
        "  CASE WHEN size(s) >= 2 THEN"
        "    flatten(transform(sequence(1, size(s) - 1), i ->"
        "      transform(slice(s, i + 1, size(s) - i), y ->"
        "        struct(element_at(s, i) AS src_a, y AS src_b))))"
        "  ELSE array() END,"
        "  transform(s, x -> struct(x AS src_a, CAST(NULL AS STRING) AS src_b))"
        ")"
    )
    # two consumers (the pair intersections and the per-source sizes)
    # of one aggregate; building it lazily for both was slower at sf0.1:
    # 3.01 → 3.12 s, in 5 of 6 interleaved pairs
    agg = materialize(
        sets.select(F.explode(F.expr(tokens)).alias("p"), "cnt")
        .groupBy(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .agg(F.sum("cnt").alias("c"))
    )
    inter = agg.filter(F.col("src_b").isNotNull()).withColumnRenamed(
        "c", "n_inter"
    )
    sizes = agg.filter(F.col("src_b").isNull()).select(
        F.col("src_a").alias("source"), F.col("c").alias("n")
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_inter",
            (
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )
