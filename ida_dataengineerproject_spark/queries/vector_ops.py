"""Embedding similarity-search queries (driver extension x03) over
`embeddings` (64-dim float vectors).

Brute-force cosine top-k carries a DuckDB oracle (list_cosine_similarity
over DOUBLE[]); the LSH path is rows-only with recall asserted against the
brute-force baseline in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import as_double_array, cosine
from ..operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_ivf,
    cosine_topk_lsh,
)
from ..registry import register
from ..sources.tables import table

_N_QUERIES = 5
_K = 10


def _exact_neardup_pairs(emb: DataFrame) -> DataFrame:
    """(id_a, id_b, cosine) for every pair of ``emb`` rows with
    id_a < id_b and cosine >= 0.4: the all-pairs ground truth that the
    bounded exact queries and the LSH recall contract share.  Cosines
    are rounded to 9 digits before the threshold compare, as the
    oracles round theirs."""
    a = emb.select(F.col("vec_id").alias("id_a"), as_double_array("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), as_double_array("embedding").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 9).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.4)
    )


@register(
    "x03_cosine_topk_bruteforce",
    f"""
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                            CAST(c.embedding AS DOUBLE[])), 9) AS cosine,
               CAST(row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                         CAST(c.embedding AS DOUBLE[])), 9) DESC,
                            c.vec_id) AS INTEGER) AS rank
        FROM (SELECT * FROM embeddings WHERE vec_id < {_N_QUERIES}) q
        JOIN embeddings c ON q.vec_id <> c.vec_id)
    WHERE rank <= {_K}
    """,
)
def q_x03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k (x03 baseline): broadcast query set × corpus scan,
    zip_with/aggregate dot products in double, deterministic tie-break."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return cosine_topk_bruteforce(emb, queries, k=_K)


def _recall_contract(exact: DataFrame, approx: DataFrame, bound: float) -> DataFrame:
    """Bounded-oracle shape for approximate top-k: per query, recall@k of
    the approximate result against the exact brute-force top-k, asserted
    ``>= bound`` as a boolean the DuckDB oracle can predict (the
    approximate neighbor set itself is hash/seed-dependent and not
    SQL-reproducible; the recall guarantee is the checkable contract)."""
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("k"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.col("k").cast("int").alias("k"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("k") >= F.lit(bound)
            ).alias("recall_ok"),
        )
    )


_RECALL_ORACLE = f"""
    SELECT vec_id AS query_id, CAST({_K} AS INTEGER) AS k, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < {_N_QUERIES}
    """


def cosine_topk_lsh_query(
    spark: SparkSession, sf_dir: str, verify: bool = False
) -> DataFrame:
    """Approximate cosine top-k via multi-table random-hyperplane LSH (x03
    scale path): bucketed equi-join instead of corpus-wide scoring.

    PRODUCTION path (``verify=False``, default): the LSH top-k alone —
    no brute-force exact arm (which scans and scores the whole corpus
    per query and exists only to measure recall at oracle scale).
    VERIFY path (``verify=True``, registered oracle query only):
    bounded-oracle contract — per-query recall@10 vs the exact
    brute-force top-k must be >= 0.5 (measured min 0.8 across
    sf0.001/0.01/0.1 with 16 tables x 4 planes; not a guarantee: on the
    perfbench ``pipeline`` corpus at seed 9 query 4 reaches only 0.4,
    below the bound, while seeds 7 and 8 reach a minimum of 0.8)."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    approx = cosine_topk_lsh(emb, queries, k=_K, n_tables=16, n_planes=4, dim=64)
    if not verify:
        return approx
    exact = cosine_topk_bruteforce(emb, queries, k=_K)
    return _recall_contract(exact, approx, bound=0.5)


@register("x03b_cosine_topk_lsh", _RECALL_ORACLE)
def q_x03b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle registration for ``cosine_topk_lsh_query`` — VERIFY arm
    (brute-force recall contract); bench/production run LSH-only."""
    return cosine_topk_lsh_query(spark, sf_dir, verify=True)


def cosine_topk_ivf_query(
    spark: SparkSession, sf_dir: str, verify: bool = False
) -> DataFrame:
    """Approximate cosine top-k via IVF coarse quantization (x03 scale
    path #2): k-means inverted lists, n_probe=8 of 16, multiple
    assignment n_assign=2 (VERDICT r11 #2 — single assignment capped
    min recall@10 at 0.5 on this near-uniform corpus, too lax a quality
    bar; boundary-straddling neighbors are recovered by indexing each
    corpus vector under its 2 nearest lists).

    PRODUCTION path (``verify=False``, default): the IVF top-k alone.
    VERIFY path (``verify=True``, registered oracle query only):
    bounded-oracle contract — per-query recall@10 >= 0.6 (measured min
    0.8 at sf0.001, 1.0 at sf0.01, 0.9 at sf0.1 — the synthetic
    near-uniform corpus is IVF's hardest case; clustered real corpora
    recall higher)."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    # cache_key = corpus identity → the k-means quantizer fits ONCE per
    # corpus per process; repeat invocations reuse the centroids
    approx = cosine_topk_ivf(
        emb, queries, k=_K, n_centroids=16, n_probe=8,
        cache_key=(sf_dir, "embeddings"), n_assign=2,
    )
    if not verify:
        return approx
    exact = cosine_topk_bruteforce(emb, queries, k=_K)
    return _recall_contract(exact, approx, bound=0.6)


@register("x03d_cosine_topk_ivf", _RECALL_ORACLE)
def q_x03d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle registration for ``cosine_topk_ivf_query`` — VERIFY arm
    (brute-force recall contract); bench/production run IVF-only."""
    return cosine_topk_ivf_query(spark, sf_dir, verify=True)


@register(
    "x03c_embedding_neardup_pairs",
    """
    SELECT id_a, id_b, cosine FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 9) AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE a.vec_id < 200 AND b.vec_id < 200)
    WHERE cosine >= 0.4
    """,
)
def q_x03c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (x02 family): bounded O(n²)
    over vec_id<200 — ground truth for embedding dedup; the LSH bucketing
    above is the scale path."""
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    return _exact_neardup_pairs(emb)


def embedding_neardup_lsh_query(
    spark: SparkSession, sf_dir: str, verify: bool = False
) -> DataFrame:
    """Embedding near-dup pairs via LSH bucketing (scale twin of the
    bounded O(n²) baseline x03c).

    PRODUCTION path (``verify=False``): the LSH pairs alone — bucketed
    self-equi-join, exact scoring of candidates only.
    VERIFY path (``verify=True``, the registered oracle form): on the
    x03c-bounded subset (vec_id < 200) compare against the exact pair set
    and assert recall >= 0.8 (collision probability at the 0.4 threshold
    is ≈0.94 with 16 tables × 4 planes; higher-cosine pairs approach 1).
    Precision needs no contract — candidates are scored exactly."""
    from ..operators.similarity import embedding_neardup_pairs_lsh

    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    approx = embedding_neardup_pairs_lsh(emb, threshold=0.4)
    if not verify:
        return approx
    exact = _exact_neardup_pairs(emb).select("id_a", "id_b")
    n_exact = exact.count()
    n_found = exact.join(
        approx.select("id_a", "id_b"), ["id_a", "id_b"]
    ).count()
    return spark.createDataFrame(
        [(n_exact, n_found >= 0.8 * n_exact)], "n_exact bigint, recall_ok boolean"
    )


@register(
    "x03e_embedding_neardup_lsh",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, TRUE AS recall_ok FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE a.vec_id < 200 AND b.vec_id < 200
          AND ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])), 9) >= 0.4)
    """,
)
def q_x03e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle registration for ``embedding_neardup_lsh_query`` — VERIFY
    arm (exact-pair recall contract); bench/production run LSH-only."""
    return embedding_neardup_lsh_query(spark, sf_dir, verify=True)


# ---------------------------------------------------------- semantic dedup


def _neardup_losers(pairs: DataFrame) -> DataFrame:
    """Greedy-by-id dedup decision from a near-dup pair set (id_a < id_b):
    a document loses iff ANY smaller-id document is similar to it, i.e.
    the distinct id_b column.  Greedy-by-id (not connected components) on
    purpose: the rule is locally decidable from pairs alone — no
    iterative closure — and is the common production choice for
    embedding-level dedup; x02d covers the transitive-component variant
    for text."""
    return pairs.select(F.col("id_b").alias("loser_id")).distinct()


@register(
    "x03f_semantic_dedup_keep",
    """
    SELECT e.vec_id
    FROM embeddings e
    WHERE e.vec_id < 200
      AND NOT EXISTS (
        SELECT 1 FROM embeddings a
        WHERE a.vec_id < e.vec_id AND a.vec_id < 200
          AND ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(e.embedding AS DOUBLE[])), 9) >= 0.4)
    ORDER BY e.vec_id
    """,
)
def semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-level) deduplication — the keep-list: drop
    every document that has a near-duplicate (cosine >= 0.4) with a
    smaller id, keep the rest.  This is the decision layer on top of the
    pair detectors (x03c exact / x03e LSH): pairs -> losers -> anti-join.

    This registered arm is the bounded EXACT twin (vec_id < 200,
    all-pairs) so the oracle can mirror it with NOT EXISTS;
    ``semantic_dedup_keep_lsh`` below is the full-corpus scale path.
    Cosines are rounded to 9 digits on both engines before the threshold
    compare, so keep-membership is bit-identical."""
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    losers = _neardup_losers(_exact_neardup_pairs(emb).select("id_a", "id_b"))
    return (
        emb.join(losers, emb.vec_id == losers.loser_id, "left_anti")
        .select("vec_id")
        .orderBy("vec_id")
    )


@register(
    "x03g_semantic_dedup_lsh",
    """
    SELECT TRUE AS superset_ok, TRUE AS bound_ok
    """,
)
def semantic_dedup_keep_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale arm of semantic dedup: the same greedy-by-id keep rule with
    LSH-bucketed candidate pairs instead of all-pairs — at 100 TB the
    pair volume tracks true near-duplicate density, never n².

    Contract (what the registered row asserts, computed on the
    x03f-bounded subset): LSH can only MISS pairs (candidates are scored
    exactly, so no false pairs) => its loser set is a subset of the
    exact loser set => ``kept_lsh ⊇ kept_exact`` (superset_ok), and the
    overshoot is bounded: |kept_lsh| <= |kept_exact| + 0.2 * n_dropped
    (bound_ok — at the measured >= 0.8 pair recall at most ~20% of true
    losers can escape).  Both booleans must be TRUE to hash-match the
    oracle row."""
    from ..operators.similarity import embedding_neardup_pairs_lsh

    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    approx_pairs = embedding_neardup_pairs_lsh(emb, threshold=0.4).select(
        "id_a", "id_b"
    )
    kept_lsh = emb.join(
        _neardup_losers(approx_pairs),
        emb.vec_id == F.col("loser_id"),
        "left_anti",
    ).select("vec_id")

    exact = semantic_dedup_keep(spark, sf_dir)
    n_exact = exact.count()
    n_total = emb.count()
    n_lsh = kept_lsh.count()
    # exact-kept ids missing from the LSH keep-list (must be none)
    n_missing = exact.join(kept_lsh, "vec_id", "left_anti").count()
    superset_ok = n_missing == 0
    bound_ok = n_lsh <= n_exact + 0.2 * (n_total - n_exact)
    return spark.createDataFrame(
        [(superset_ok, bound_ok)], "superset_ok boolean, bound_ok boolean"
    )


def semantic_dedup_keep_lsh_production(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Production arm of x03g (bench override): the LSH keep-list
    without the exact all-pairs comparison arm (that is
    verification-harness cost; see queries/production.py), on the same
    bounded corpus as the registered contract arm — the x03e convention.

    Why bounded: the synthetic corpus is near-uniform and the contract
    threshold 0.4 sits where hyperplane collision probability is 0.63
    per plane, so the 16x4 banding (tuned for the recall contract)
    admits ~94% of ALL pairs as candidates — at that threshold LSH
    cannot prune, by math, on any engine.  Real near-duplicate regimes
    (cosine >= 0.9, collision 0.86/plane vs 0.5 for unrelated) are
    where banding separates signal from noise and candidate volume
    tracks true density; the scale claim lives there, not at 0.4."""
    from ..operators.similarity import embedding_neardup_pairs_lsh

    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    pairs = embedding_neardup_pairs_lsh(emb, threshold=0.4).select(
        "id_a", "id_b"
    )
    return emb.join(
        _neardup_losers(pairs), emb.vec_id == F.col("loser_id"), "left_anti"
    ).select("vec_id")


def cosine_topk_pq_query(
    spark: SparkSession, sf_dir: str, verify: bool = False
) -> DataFrame:
    """Approximate cosine top-k via product quantization (x03 scale path
    #3 — compressed-domain scan): ADC shortlist over 16x16 codes (16 B
    per vector instead of 512 B), exact re-rank of the 500-vector
    shortlist.

    PRODUCTION path (``verify=False``): PQ alone.  VERIFY path
    (registered oracle query): recall@10 vs brute force must be >= 0.5
    per query (measured min 1.0 at sf0.001/0.01/0.1 with these
    parameters; m=8 or shortlist=50 measurably break the bound at
    sf0.1 — see cosine_topk_pq's docstring)."""
    from ..operators.similarity import cosine_topk_pq

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    approx = cosine_topk_pq(
        emb, queries, k=_K, cache_key=("pq", sf_dir)
    )
    if not verify:
        return approx
    exact = cosine_topk_bruteforce(emb, queries, k=_K)
    return _recall_contract(exact, approx, bound=0.5)


@register("x03h_cosine_topk_pq", _RECALL_ORACLE)
def q_x03h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle registration for ``cosine_topk_pq_query`` — VERIFY arm
    (brute-force recall contract); bench/production run PQ-only."""
    return cosine_topk_pq_query(spark, sf_dir, verify=True)


_SIL_K = 8  # fixed centroid count (vec_id < _SIL_K are the centroids)


@register(
    "x39_centroid_silhouette",
    f"""
    WITH cent AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                  FROM embeddings WHERE vec_id < {_SIL_K}),
    pts AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS pv
            FROM embeddings WHERE vec_id >= {_SIL_K}),
    scored AS (
        SELECT p.vec_id, c.cid,
               ROUND(list_cosine_similarity(p.pv, c.cv), 9) AS cos_r,
               row_number() OVER (
                   PARTITION BY p.vec_id
                   ORDER BY ROUND(list_cosine_similarity(p.pv, c.cv), 9) DESC,
                            c.cid) AS rn
        FROM pts p CROSS JOIN cent c),
    per_pt AS (
        SELECT vec_id,
               max(CASE WHEN rn = 1 THEN cid END) AS assigned,
               1.0 - max(CASE WHEN rn = 1 THEN cos_r END) AS a,
               1.0 - max(CASE WHEN rn = 2 THEN cos_r END) AS b
        FROM scored GROUP BY vec_id),
    sil AS (
        SELECT assigned,
               ROUND((b - a) / GREATEST(a, b), 9) AS s
        FROM per_pt)
    SELECT CAST(assigned AS BIGINT) AS centroid_id,
           CAST(count(*) AS BIGINT) AS n_members,
           ROUND(CAST(SUM(CAST(s AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6)
             AS avg_silhouette
    FROM sil GROUP BY assigned
    """,
)
def q_centroid_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality audit: SIMPLIFIED silhouette (Hruschka et al. —
    distances to CENTROIDS, not the O(n²) all-pairs mean) of the corpus
    under a fixed 8-centroid cosine assignment.  a = distance to the
    assigned (nearest) centroid, b = distance to the best OTHER
    centroid, s = (b−a)/max(a,b); per-cluster mean s is the quality
    readout every embedding-pipeline health check wants.

    Determinism: centroids are the first {_SIL_K} vectors (a fixed
    codebook stand-in — quantizer fitting is x03d's job); cosines are
    rounded to 9 before ranking and arithmetic (the repo's cross-engine
    float contract); the per-cluster mean runs decimal-exact
    (functions/aggs pattern), so the row hash-matches the oracle.

    Scale shape: centroids broadcast (8 rows); each point's 8 scores
    collapse to (assigned, a, b) through one groupBy(vec_id) over a
    bounded 8-element sorted array — no corpus-wide window; the closing
    per-cluster aggregate has 8 groups and map-side combines."""
    emb = table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < _SIL_K).select(
        F.col("vec_id").alias("cid"), as_double_array("embedding").alias("cv")
    )
    pts = emb.filter(F.col("vec_id") >= _SIL_K).select(
        "vec_id", as_double_array("embedding").alias("pv")
    )
    scored = pts.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cid",
        F.round(cosine(F.col("pv"), F.col("cv")), 9).alias("cos_r"),
    )
    # (assigned, a, b) from a bounded 8-element sorted array — sort key
    # (-cos, cid) ascending puts the best-cosine / lowest-id first,
    # matching the oracle's (cos DESC, cid) row_number exactly
    per_pt = (
        scored.groupBy("vec_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct((-F.col("cos_r")).alias("neg"), F.col("cid"))
                )
            ).alias("arr")
        )
        .select(
            F.element_at("arr", 1).getField("cid").alias("assigned"),
            (F.lit(1.0) + F.element_at("arr", 1).getField("neg")).alias("a"),
            (F.lit(1.0) + F.element_at("arr", 2).getField("neg")).alias("b"),
        )
    )
    sil = per_pt.select(
        "assigned",
        F.round(
            (F.col("b") - F.col("a")) / F.greatest("a", "b"), 9
        ).alias("s"),
    )
    from ..functions.aggs import avg_exact

    return sil.groupBy(
        F.col("assigned").cast("long").alias("centroid_id")
    ).agg(
        F.count("*").alias("n_members"),
        F.round(avg_exact(F.col("s"), scale=12), 6).alias("avg_silhouette"),
    )
