"""Recall/quality tests for the approximate dedup & similarity paths
against their exact baselines (the driver's rows-only checks can't see
quality; these tests do)."""

from __future__ import annotations

from pyspark.sql import functions as F

from .conftest import SF_SMOKE


def _docs(spark):
    from ida_dataengineerproject_spark.sources.tables import table

    return table(spark, SF_SMOKE, "documents")


def test_minhash_lsh_recall_vs_exact(spark):
    """Every high-jaccard pair (>=0.6) found by brute force must be found
    by the MinHash-LSH path (16 hashes / 4 bands → ~0.47 LSH threshold)."""
    from ida_dataengineerproject_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    d = _docs(spark)
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.6).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(d, "doc_id", "text", threshold=0.5).collect()
    }
    assert exact, "testdata should contain planted near-duplicates"
    missed = exact - lsh
    assert not missed, f"LSH missed high-similarity pairs: {missed}"


def test_simhash_pairs_are_similar(spark):
    """SimHash-near pairs (hamming<=3) should have similar token sets."""
    from ida_dataengineerproject_spark.operators.dedup import (
        jaccard,
        simhash_pairs,
    )
    from ida_dataengineerproject_spark.functions.textstats import tokens

    d = _docs(spark)
    pairs = simhash_pairs(d, "doc_id", "text", max_hamming=3)
    toks = d.select(
        F.col("doc_id"), F.array_distinct(tokens("text")).alias("tk")
    )
    a = toks.select(F.col("doc_id").alias("id_a"), F.col("tk").alias("tk_a"))
    b = toks.select(F.col("doc_id").alias("id_b"), F.col("tk").alias("tk_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b").select(
        jaccard(F.col("tk_a"), F.col("tk_b")).alias("tok_jac")
    )
    rows = joined.collect()
    if rows:  # token-set similarity of flagged pairs should be high
        assert min(r.tok_jac for r in rows) > 0.5


def test_simhash_bucket_cardinality_bounded(spark):
    """The 2^chunk_bits banding knob bounds within-bucket load: on a
    corpus of mutually-unrelated docs, 24-bit chunks must leave every
    (chunk, value) bucket near-singleton, while 8-bit chunks (the scale
    cliff the knob exists to avoid) visibly pile up — the within-bucket
    self-join is quadratic in that pileup."""
    from ida_dataengineerproject_spark.operators.dedup import simhash_chunks

    rows = [
        (i, " ".join(f"w{(i * 131 + j * 17) % 99991}" for j in range(20)))
        for i in range(2000)
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")

    def max_bucket(chunk_bits: int) -> int:
        return (
            simhash_chunks(d, "doc_id", "text", n_chunks=4, chunk_bits=chunk_bits)
            .groupBy("chunk", "cv")
            .count()
            .agg(F.max("count").alias("m"))
            .first()
            .m
        )

    wide, narrow = max_bucket(24), max_bucket(8)
    assert wide <= 4, f"24-bit buckets should be near-singleton, got {wide}"
    assert narrow >= 4 * wide, (
        f"8-bit banding should visibly pile up ({narrow} vs {wide}) — "
        "otherwise this corpus can't demonstrate the cliff"
    )


def test_cosine_lsh_recall_vs_bruteforce(spark):
    """LSH top-k must recover >=60% of true top-3 neighbors (16 tables ×
    4 planes, 500 vectors)."""
    from ida_dataengineerproject_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_lsh,
    )
    from ida_dataengineerproject_spark.sources.tables import table

    emb = table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(emb, queries, k=3).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_lsh(emb, queries, k=10, n_tables=16, n_planes=4, dim=64).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"LSH recall too low: {recall}"


def test_cosine_ivf_recall_vs_bruteforce(spark):
    """IVF top-k (probe 6/16 lists) must recover >=50% of true top-3."""
    from ida_dataengineerproject_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )
    from ida_dataengineerproject_spark.sources.tables import table

    emb = table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(emb, queries, k=3).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_ivf(emb, queries, k=10, n_centroids=16, n_probe=6).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_approx_count_distinct_accuracy(spark):
    """HLL++ at rsd=0.01 must land within 2% of the exact distinct count."""
    from ida_dataengineerproject_spark.sources.tables import table

    ev = table(spark, SF_SMOKE, "events")
    exact = {r.event_type: r.n for r in ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    approx = {r.event_type: r.n for r in ev.groupBy("event_type")
              .agg(F.approx_count_distinct("user_id", rsd=0.01).alias("n")).collect()}
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(2, 0.02 * n), (k, n, approx[k])


def test_exact_dedup_idempotent(spark):
    """Dedup of already-deduped input is a no-op (ON CONFLICT semantics)."""
    from ida_dataengineerproject_spark.operators.dedup import exact_dedup

    d = _docs(spark)
    once = exact_dedup(d, F.md5("text"), "doc_id").drop("n_dups")
    twice = exact_dedup(once.drop("hash_registro"), F.md5("text"), "doc_id").drop(
        "n_dups"
    )
    assert once.count() == twice.count()


def test_connected_components_vs_union_find(spark):
    """Distributed min-label propagation must produce exactly the
    components a sequential union-find computes on the same edge list."""
    from ida_dataengineerproject_spark.operators.dedup import ngram_jaccard_pairs
    from ida_dataengineerproject_spark.operators.graph import connected_components

    d = _docs(spark).filter(F.col("doc_id") < 300)
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5)
    edges = [(r.id_a, r.id_b) for r in pairs.collect()]
    assert edges, "testdata should contain near-dup pairs"

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {n: find(n) for n in parent}

    got = {
        r.node: r.comp
        for r in connected_components(pairs, "id_a", "id_b").collect()
    }
    assert got == expected


def test_cms_bounds(spark):
    """Count-Min guarantees: estimate >= true count for every key, and
    overshoot <= eps*N with eps = e/width (checked deterministically —
    the seeds are fixed, so this is reproducible, not probabilistic)."""
    import math

    from ida_dataengineerproject_spark.operators.sketch import (
        WIDTH,
        cms_build,
        cms_estimate,
    )
    from ida_dataengineerproject_spark.sources.tables import table

    ev = table(spark, SF_SMOKE, "events")
    n_total = ev.count()
    exact = {r.user_id: r.n for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()}

    sketch = cms_build(ev, "user_id")
    est = {
        r.user_id: r.est_count
        for r in cms_estimate(sketch, ev.select("user_id").distinct(), "user_id").collect()
    }
    assert set(est) == set(exact)
    eps_n = math.e / WIDTH * n_total
    for uid, true_n in exact.items():
        assert est[uid] >= true_n, (uid, est[uid], true_n)
        assert est[uid] <= true_n + eps_n, (uid, est[uid], true_n, eps_n)


def test_embedding_neardup_lsh_scale_path(spark, duck):
    """x03e: LSH near-dup pairs — production path finds high-cosine pairs
    with exact precision (every returned pair really is >= threshold), and
    the registered verify arm passes its recall contract + oracle."""
    from .conftest import SF_SMOKE, assert_parity

    from ida_dataengineerproject_spark.queries.vector_ops import (
        embedding_neardup_lsh_query,
    )
    from ida_dataengineerproject_spark.registry import ORACLES, QUERIES

    pairs = embedding_neardup_lsh_query(spark, SF_SMOKE).collect()
    assert all(r.cosine >= 0.4 for r in pairs)
    assert all(r.id_a < r.id_b for r in pairs)

    assert_parity(
        QUERIES["x03e_embedding_neardup_lsh"](spark, SF_SMOKE),
        duck,
        ORACLES["x03e_embedding_neardup_lsh"],
    )


def test_semantic_dedup_keep_rule_golden(spark):
    """Greedy-by-id keep rule on a hand-built pair set: losers are
    exactly the distinct larger ids."""
    from ida_dataengineerproject_spark.queries.vector_ops import (
        _neardup_losers,
    )

    pairs = spark.createDataFrame(
        [(1, 5), (1, 7), (2, 7), (3, 9)], "id_a long, id_b long"
    )
    losers = sorted(r["loser_id"] for r in _neardup_losers(pairs).collect())
    assert losers == [5, 7, 9]


def test_semantic_dedup_lsh_contract_holds(spark):
    """The registered x03g contract (kept_lsh superset of kept_exact,
    bounded overshoot) must hold at smoke scale too."""
    from ida_dataengineerproject_spark.queries.vector_ops import (
        semantic_dedup_keep_lsh,
    )
    from tests.conftest import SF_SMOKE

    row = semantic_dedup_keep_lsh(spark, SF_SMOKE).collect()[0]
    assert row["superset_ok"] and row["bound_ok"]


def test_cosine_pq_recall_and_codebook_shape(spark):
    """PQ ADC + re-rank must recover the full true top-10 at smoke SF
    (measured 1.0 at every SF with m=16, shortlist=500), and the fitted
    codebooks are deterministic with the documented shape."""
    import numpy as np

    from ida_dataengineerproject_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_pq,
        fit_pq_codebooks,
    )
    from ida_dataengineerproject_spark.sources.tables import table
    from ida_dataengineerproject_spark.functions.vectors import as_double_array

    emb = table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(emb, queries, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_pq(emb, queries, k=10).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"PQ recall too low: {recall}"

    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        as_double_array("embedding").alias("cv"),
    )
    b1 = fit_pq_codebooks(c, m_subspaces=16)
    b2 = fit_pq_codebooks(c, m_subspaces=16)
    assert b1.shape == (16, 16, 4)
    assert np.array_equal(b1, b2)  # deterministic fit, no RNG


def test_fingerprint_sql_twin_matches(spark):
    """r12: sources/bucketed.FINGERPRINT_SQL (the derived-column SQL the
    content-addressed documents layout stores) must equal
    functions/hashing.text_fingerprint row-for-row — a drift between
    the two would bucket on one hash and dedup on another."""
    from ida_dataengineerproject_spark.functions.hashing import (
        text_fingerprint,
    )
    from ida_dataengineerproject_spark.sources.bucketed import (
        FINGERPRINT_SQL,
    )
    from ida_dataengineerproject_spark.sources.tables import table

    d = table(spark, "/root/testdata/sf0.001", "documents")
    n = d.filter(
        F.expr(FINGERPRINT_SQL) != text_fingerprint("text")
    ).count()
    assert n == 0
