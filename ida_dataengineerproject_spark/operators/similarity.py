"""Embedding similarity search (driver extension x03).

Two paths, same contract:
- ``cosine_topk_bruteforce``: exact — broadcast the (small) query set
  against the full corpus; one pass, no shuffle of the corpus.  The
  correctness baseline and the right plan whenever |queries| is small.
- ``cosine_topk_lsh``: approximate scale path — random-hyperplane signed
  projections bucket the corpus in L independent tables; queries only
  score candidates sharing their exact ``(table, bucket)`` in at least
  one table — recall comes from L alone, no neighbor bucket is probed
  (multi-probe over the lowest-margin bits is ROADMAP direction 2).
  At 100 TB the bucket join replaces the corpus-wide scan per query.

The hyperplane matrix is generated from a fixed seed (public numpy RNG) on
the driver and shipped in the Arrow batch kernel's closure — deterministic
across runs, no state to persist.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import as_double_array, cosine


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k neighbors per query vector (cosine, double precision).

    queries is broadcast → BroadcastNestedLoopJoin; the corpus is scanned
    once regardless of |queries|.  Ranking uses (sim desc, id asc) for
    deterministic ties.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("cv")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(cosine(F.col("qv"), F.col("cv")), 9))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


_IVF_CENTROID_CACHE: dict[tuple, list[list[float]]] = {}
_IVF_INDEX_CACHE: dict[tuple, DataFrame] = {}


def fit_ivf_quantizer(
    corpus_vecs: DataFrame,
    n_centroids: int = 16,
    fit_cap_per_centroid: int = 64,
    cache_key: tuple | None = None,
) -> list[list[float]]:
    """FIT-ONCE coarse quantizer for IVF: spherical k-means via
    ``pyspark.ml.clustering.KMeans`` (k-means‖ init, fixed seed) over
    L2-normalized corpus vectors — Euclidean clustering of unit vectors is
    cosine clustering, so the inverted lists follow the corpus's angular
    structure.  Only ``n_centroids`` center vectors ever reach the driver.

    The training set is a DETERMINISTIC hash-ordered take: ``ORDER BY
    xxhash64(id) LIMIT cap`` compiles to TakeOrderedAndProject — a
    size-``cap`` heap per partition merged once, NO full shuffle and NO
    ``count()`` action over the corpus (the round-2 version ran an exact
    count plus a modulus filter per call).  The sample is stable across
    runs and partitionings, so the centroids are reproducible.

    ``cache_key`` (e.g. the corpus path + params) memoizes the fitted
    centroids process-wide: repeated queries against the same corpus reuse
    the model instead of re-running the ml job — at scale the centroids
    are a fitted-once persisted artifact, and this cache is its in-process
    equivalent.  Pass the returned list to ``cosine_topk_ivf(...,
    centroids=...)`` to skip fitting entirely.
    """
    if cache_key is not None:
        full_key = (cache_key, n_centroids, fit_cap_per_centroid)
        hit = _IVF_CENTROID_CACHE.get(full_key)
        if hit is not None:
            return hit

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import Normalizer
    from pyspark.ml.functions import array_to_vector

    fit_cap = n_centroids * fit_cap_per_centroid
    fit_src = corpus_vecs.orderBy(
        F.xxhash64("neighbor_id"), F.col("neighbor_id")
    ).limit(fit_cap)
    train = Normalizer(inputCol="raw", outputCol="features", p=2.0).transform(
        fit_src.select(array_to_vector(F.col("cv")).alias("raw"))
    )
    model = KMeans(
        k=n_centroids, seed=7, maxIter=10, featuresCol="features"
    ).fit(train)
    cents = [center.tolist() for center in model.clusterCenters()]
    if cache_key is not None:
        _IVF_CENTROID_CACHE[full_key] = cents
    return cents


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: list[list[float]] | None = None,
    cache_key: tuple | None = None,
    n_assign: int = 1,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) partitioning.

    Coarse quantizer: ``fit_ivf_quantizer`` — FIT ONCE and reused, either
    passed in via ``centroids`` (a persisted artifact) or memoized under
    ``cache_key``; no count action and no per-call ml job on the warm
    path.

    Every corpus vector is assigned to its ``n_assign`` nearest centroid
    lists (one numpy cosine matmul per Arrow batch); queries probe their
    ``n_probe`` nearest lists.  The candidate join is an equi-join on
    centroid id — at scale each query scores
    |corpus|·n_assign·n_probe/n_centroids vectors instead of |corpus|.

    ``n_assign > 1`` is IVF *multiple assignment* (the standard recall
    refinement for corpora whose neighbors straddle Voronoi boundaries —
    the dominant recall loss on near-uniform embeddings): a true
    neighbor is found if ANY of its ``n_assign`` home lists is among the
    query's ``n_probe`` probes.  The index grows ``n_assign``× (still
    linear, still bucketed); duplicate (query, neighbor) candidates from
    shared lists are folded by a pre-ranking group-by on the candidate
    grain, which is bounded by the probe coverage — never |corpus|².
    r12 measurement on the synthetic near-uniform corpus (the hardest
    case), 16 centroids / 8 probes, ``n_assign`` 1 → 2: min recall@10
    0.5 → 0.8 (sf0.001), 0.5 → 1.0 (sf0.01), 0.5 → 0.9 (sf0.1).
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("qv")
    )

    cents = centroids if centroids is not None else fit_ivf_quantizer(
        c, n_centroids=n_centroids, cache_key=cache_key
    )
    cents_np = np.asarray(cents, dtype=np.float64)
    cn = cents_np / np.linalg.norm(cents_np, axis=1, keepdims=True)

    def probes_pandas(df: DataFrame, id_name: str, vec_name: str, n: int):
        """(id, vec) → (id, vec, cent_idx)×n via one cosine-matrix matmul
        per Arrow batch; a stable argsort breaks distance ties by the
        lower centroid index."""
        import pandas as pd

        def gen(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                vecs = np.stack(pdf[vec_name].to_numpy())
                vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
                dists = -(vn @ cn.T)  # N × n_centroids
                order = np.argsort(dists, axis=1, kind="stable")[:, :n]
                yield pd.DataFrame(
                    {
                        id_name: np.repeat(pdf[id_name].to_numpy(), n),
                        vec_name: np.repeat(pdf[vec_name].to_numpy(), n),
                        "cent_idx": order.reshape(-1).astype(np.int32),
                    }
                )

        return df.mapInPandas(
            gen,
            schema=f"{id_name} long, {vec_name} array<double>, cent_idx int",
        )

    c_assigned = probes_pandas(c, "neighbor_id", "cv", n_assign)
    q_probes = probes_pandas(q, "query_id", "qv", n_probe)

    # The inverted-list assignment is the INDEX BUILD of IVF — at scale a
    # persisted artifact built once per corpus, not recomputed per query.
    # Under a cache_key we persist it in-process (MEMORY_AND_DISK), the
    # local equivalent of reading the prebuilt index.
    if cache_key is not None:
        idx_key = ("ivf_index", cache_key, n_centroids, n_assign)
        cached = _IVF_INDEX_CACHE.get(idx_key)
        if cached is not None and cached.sparkSession is c.sparkSession:
            # re-persist on access: a global spark.catalog.clearCache()
            # (bench/probe run isolation) unpersists the index artifact;
            # persist() is a no-op when still cached and re-marks the
            # plan for caching when cleared, so the index re-warms on
            # the next action instead of silently degrading to
            # recompute-per-query.
            c_assigned = cached.persist()
        else:
            c_assigned = c_assigned.persist()
            _IVF_INDEX_CACHE[idx_key] = c_assigned

    # query side is |queries|·n_probe rows — broadcast it so the corpus
    # inverted lists are never shuffled (mapInPandas output has no stats,
    # so left alone Spark may pick a sort-merge join here)
    scored = (
        c_assigned.join(F.broadcast(q_probes), "cent_idx")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(cosine(F.col("qv"), F.col("cv")), 9))
    )
    if n_assign > 1:
        # multiple assignment can surface the same (query, neighbor)
        # candidate through several shared lists — fold duplicates on
        # the candidate grain BEFORE ranking (cosine is deterministic,
        # so max == the single value).  The explicit repartition on
        # query_id ALONE makes one exchange serve both the dedup
        # aggregate (hash(query_id) clusters every (query, neighbor)
        # pair — a subset partitioning satisfies ClusteredDistribution)
        # and the ranking window (whose requirement it matches exactly);
        # left alone the planner would shuffle on (query_id,
        # neighbor_id) and then AGAIN on query_id for the window.
        scored = (
            scored.repartition("query_id")
            .groupBy("query_id", "neighbor_id")
            .agg(F.max("cosine").alias("cosine"))
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _bucket_rows_pandas(
    df: DataFrame,
    id_name: str,
    vec_name: str,
    planes: list[list[float]],
    n_tables: int,
    m: int,
) -> DataFrame:
    """(id, vec) → exploded (id, tbl, bucket) via ONE numpy matmul per
    Arrow batch (mapInPandas).

    The signed-projection math is a dense (batch×dim)@(dim×planes) product
    — exactly the shape where the interpreted higher-order-function
    expression path loses 10-50× to a vectorized kernel (measured: the
    expression form made LSH *slower* than brute force at sf0.1).  Bit
    packing: table t's bucket = Σ_j bit[t·m+j]·2^j."""
    import pandas as pd

    proj = np.asarray(planes, dtype=np.float64).T  # dim × (n_tables·m)
    weights = 1 << np.arange(m, dtype=np.int64)

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            vecs = np.stack(pdf[vec_name].to_numpy())  # N × dim
            bits = (vecs @ proj) > 0  # N × (n_tables·m)
            bucket = bits.reshape(len(pdf), n_tables, m) @ weights  # N × L
            yield pd.DataFrame(
                {
                    id_name: np.repeat(pdf[id_name].to_numpy(), n_tables),
                    "tbl": np.tile(
                        np.arange(n_tables, dtype=np.int32), len(pdf)
                    ),
                    "bucket": bucket.reshape(-1),
                }
            )

    return df.mapInPandas(gen, schema=f"{id_name} long, tbl int, bucket long")


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_tables: int = 16,
    n_planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH.

    L independent tables of m hyperplanes each: a pair at angle θ shares a
    table bucket with P = (1-θ/π)^m; across L tables the hit rate is
    1-(1-P)^L — e.g. θ=60° (cosine 0.5), m=4, L=16 → recall ≈ 0.97.

    Plan shape: corpus and queries each explode to L (table, bucket) rows;
    candidates come from an equi-join on (table, bucket) + distinct —
    shuffle-partitioned, no broadcast of the corpus, no cartesian.  The
    corpus-side explode is L× rows of (id, bucket) pairs only; vectors are
    re-joined for scoring candidates alone.

    The signed projections are a numpy matmul inside mapInPandas
    (_bucket_rows_pandas, one Arrow batch at a time) — the vectorized
    escape hatch for dense linear algebra that higher-order functions
    evaluate interpreted."""

    planes = _hyperplanes(dim, n_tables * n_planes, seed=1042)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("qv")
    )

    c_b = _bucket_rows_pandas(c, "neighbor_id", "cv", planes, n_tables, n_planes)
    q_b = _bucket_rows_pandas(q, "query_id", "qv", planes, n_tables, n_planes)

    cand = (
        c_b.join(q_b, ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )

    scored = (
        cand.join(q, "query_id")
        .join(c, "neighbor_id")
        .withColumn("cosine", F.round(cosine(F.col("qv"), F.col("cv")), 9))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def embedding_neardup_pairs_lsh(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_tables: int = 16,
    n_planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Embedding near-duplicate pairs at scale (the LSH twin of the
    bounded O(n²) baseline in queries/vector_ops.q_x03c).

    Self-join of the corpus's (table, bucket) rows generates candidates —
    a bucketed equi-join, never all-pairs: expected candidate volume is
    Σ_buckets n_b², which tracks the true near-dup density because random
    hyperplanes concentrate similar vectors.  A pair at cosine θ collides
    in ≥1 of L tables with 1-(1-(1-θ/π)^m)^L — at cosine 0.4 (θ≈66°),
    m=4, L=16 → ≈0.94; higher-similarity pairs (the ones dedup must not
    miss) approach 1.  Candidates are scored exactly and filtered to the
    threshold, so precision is exact; only recall is probabilistic.
    """
    planes = _hyperplanes(dim, n_tables * n_planes, seed=1042)
    c = corpus.select(
        F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("v")
    )
    b = _bucket_rows_pandas(c, "vec_id", "v", planes, n_tables, n_planes)
    left = b.select(F.col("vec_id").alias("id_a"), "tbl", "bucket")
    right = b.select(F.col("vec_id").alias("id_b"), "tbl", "bucket")
    cand = (
        left.join(right, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = c.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    vb = c.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", F.round(cosine(F.col("va"), F.col("vb")), 9))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): compressed-domain similarity search
#
# IVF above prunes WHICH vectors each query scores; PQ compresses HOW
# each score is computed: a 64-dim float vector (512 B) becomes
# m_subspaces small codes (8 B at 8x16), and a query scores a vector
# with m table lookups instead of a 64-mult dot product.  The classic
# pipeline (Jegou et al., "Product Quantization for Nearest Neighbor
# Search", public) is ADC shortlist -> exact re-rank, composable with
# IVF's inverted lists for pruning.
# ---------------------------------------------------------------------------

_PQ_CODEBOOK_CACHE: dict[tuple, np.ndarray] = {}


def fit_pq_codebooks(
    corpus_vecs: DataFrame,
    dim: int = 64,
    m_subspaces: int = 8,
    k_cents: int = 16,
    fit_cap: int = 1024,
    cache_key: tuple | None = None,
) -> np.ndarray:
    """FIT-ONCE per-subspace codebooks, shape (m, k, dim/m).

    Training sample is the same deterministic hash-ordered take as the
    IVF quantizer (ORDER BY xxhash64(id) LIMIT cap — no count job, no
    full shuffle, stable across partitionings); k-means is driver-side
    numpy Lloyd's with DETERMINISTIC init (first k sample rows) and a
    fixed 10 iterations, so the codebooks are bit-reproducible anywhere
    — only fit_cap*dim doubles ever reach the driver (bounded model
    state, like the IVF centroids)."""
    if cache_key is not None:
        full_key = (cache_key, dim, m_subspaces, k_cents, fit_cap)
        hit = _PQ_CODEBOOK_CACHE.get(full_key)
        if hit is not None:
            return hit

    rows = (
        corpus_vecs.orderBy(F.xxhash64("neighbor_id"), F.col("neighbor_id"))
        .limit(fit_cap)
        .collect()
    )
    X = np.asarray([r["cv"] for r in rows], dtype=np.float64)
    d_sub = dim // m_subspaces
    books = np.empty((m_subspaces, k_cents, d_sub), dtype=np.float64)
    for s in range(m_subspaces):
        Xs = X[:, s * d_sub : (s + 1) * d_sub]
        C = Xs[:k_cents].copy()
        for _ in range(10):
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k_cents):
                members = Xs[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books[s] = C
    if cache_key is not None:
        _PQ_CODEBOOK_CACHE[full_key] = books
    return books


def pq_encode(
    corpus_vecs: DataFrame, books: np.ndarray
) -> DataFrame:
    """(neighbor_id, cv) -> (neighbor_id, cv, codes array<int>): nearest
    sub-centroid per subspace via one numpy distance matrix per Arrow
    batch (same kernel shape as the LSH/IVF signature stages — the
    interpreted-HOF path would do m*k*d_sub multiplies per ROW).

    Python stages parallelize per input partition (round-2 trap 9: one
    parquet file = one partition = a single-threaded kernel), so the
    input is round-robin repartitioned up to the session's default
    parallelism before the Arrow stage."""
    import pandas as pd

    sc = corpus_vecs.sparkSession.sparkContext
    if corpus_vecs.rdd.getNumPartitions() < sc.defaultParallelism:
        corpus_vecs = corpus_vecs.repartition(sc.defaultParallelism)

    m, k, d_sub = books.shape
    flat = books.reshape(m * k, d_sub)

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf["cv"].to_numpy())
            codes = np.empty((len(X), m), dtype=np.int32)
            for s in range(m):
                Xs = X[:, s * d_sub : (s + 1) * d_sub]
                Cs = flat[s * k : (s + 1) * k]
                d2 = (
                    (Xs**2).sum(1, keepdims=True)
                    - 2 * (Xs @ Cs.T)
                    + (Cs**2).sum(1)[None, :]
                )
                codes[:, s] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["neighbor_id"],
                    "cv": pdf["cv"],
                    "codes": list(codes),
                }
            )

    return corpus_vecs.mapInPandas(
        gen, schema="neighbor_id long, cv array<double>, codes array<int>"
    )


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int = 64,
    m_subspaces: int = 16,
    k_cents: int = 16,
    shortlist: int = 500,
    cache_key: tuple | None = None,
) -> DataFrame:
    """Approximate cosine top-k via PQ: ADC (asymmetric distance
    computation) shortlist in the compressed domain, exact re-rank of
    the shortlist only.

    The query side precomputes, per query, an m x k lookup table of
    sub-dot-products against the (literal, fitted-once) codebooks; the
    corpus side carries only its codes.  ADC score = zip_with over
    (codes, tables) — m element_at lookups per (query, vector), a pure
    JVM expression with no Python in the scan.  Exact cosine touches
    only `shortlist` vectors per query (WindowGroupLimit on the ADC
    order); the 500-vector default is the standard ~50x-k re-rank
    budget (measured on this corpus: recall@10 == 1.0 at every SF with
    m=16; m=8 bottoms at 0.7 at sf0.1 — near-orthogonal synthetic
    vectors put true neighbors in ADC near-ties, so the shortlist, not
    the code width, carries the recall).  100 TB: the compressed scan
    reads 16 B/vector instead of 512 B, composable with IVF pruning;
    codes are an index artifact built once (pq_encode)."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("qv")
    )
    books = fit_pq_codebooks(
        c, dim=dim, m_subspaces=m_subspaces, k_cents=k_cents, cache_key=cache_key
    )
    m, kc, d_sub = books.shape

    encoded = pq_encode(c, books)

    # per-query LUTs: luts[s][c] = dot(q_sub_s, centroid_{s,c}) over the
    # fitted codebooks, built as ONE SQL string -> one expr() -> one py4j
    # call.  The equivalent Column-API construction (m*k aggregates of
    # zip_with over literal arrays = thousands of py4j round trips) cost
    # ~10 s of pure DRIVER time per invocation — the executors were never
    # the bottleneck (measured: 12.2 s/call vs 2.7 s on a prebuilt plan).
    # HOF form on purpose: per-query cost is m*k*d_sub interpreted evals
    # over the (tiny) query side only, and the unrolled-arithmetic
    # alternative exceeds janino's 64 KB codegen limit (falls back
    # interpreted anyway, with a noisy stack trace per run).
    books_lit = "array({})".format(
        ", ".join(
            "array({})".format(
                ", ".join(
                    "array({})".format(
                        ", ".join(repr(float(x)) for x in books[s, ci])
                    )
                    for ci in range(kc)
                )
            )
            for s in range(m)
        )
    )
    luts_sql = f"""
        transform({books_lit}, (sub, s) ->
            transform(sub, cent ->
                aggregate(
                    zip_with(slice(qv, s * {d_sub} + 1, {d_sub}), cent,
                             (a, b) -> a * b),
                    0D, (acc, v) -> acc + v)))
    """
    q_luts = q.select("query_id", "qv", F.expr(luts_sql).alias("luts"))

    # UNROLLED lookup sum: higher-order functions evaluate interpreted,
    # per element (round-2 trap 8) — the zip_with/aggregate form of this
    # measured ~12 s for 100k rows at sf0.1; m plain nested element_at
    # terms stay inside whole-stage codegen
    adc = None
    for s in range(m):
        term = F.element_at(
            F.element_at(F.col("luts"), s + 1),
            (F.element_at(F.col("codes"), s + 1) + 1).cast("int"),
        )
        adc = term if adc is None else adc + term
    # rank on a SLIM projection: the window shuffle must carry only
    # (query_id, neighbor_id, adc) — dragging qv/cv/luts (~3 KB/row)
    # through the sort measured 3-6x slower via pure GC churn; vectors
    # rejoin below on the shortlist only
    scored = (
        encoded.drop("cv")
        .join(F.broadcast(q_luts.select("query_id", "luts")))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", adc.alias("adc"))
    )
    w_short = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id")
    )
    short = (
        scored.withColumn("srank", F.row_number().over(w_short))
        .filter(F.col("srank") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    rerank = (
        c.join(F.broadcast(short), c.neighbor_id == short.neighbor_id)
        .drop(short.neighbor_id)
        .join(
            F.broadcast(q.withColumnRenamed("query_id", "qid")),
            F.col("query_id") == F.col("qid"),
        )
        .withColumn("cosine", F.round(cosine(F.col("qv"), F.col("cv")), 9))
    )
    w_final = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        rerank.withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
