"""Contract tests for the Misra-Gries heavy-hitter sketch (x26) and the
BPE pair statistic (xt23).

The registered x26 query runs on a corpus whose vocabulary fits the MG
capacity (decrement branch never fires — see vocab_ops.py honesty note);
these tests drive the sketch where it earns its keep: a Zipf stream with
far more distinct keys than counters.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from ida_dataengineerproject_spark.operators.sketch import (
    heavy_hitters,
    mg_candidates,
)
from ida_dataengineerproject_spark.queries.vocab_ops import q_xt23
from ida_dataengineerproject_spark.sources.tables import table

SF = "/root/testdata/sf0.001"


def _zipf_keys(spark, n_rows=200_000, n_distinct=50_000):
    """Deterministic Zipf-ish stream: key = floor(n_distinct / (1 + i mod
    sqrt-space)) style skew via reciprocal rank — rank r appears ~ n/r
    times. Built engine-side (no driver data)."""
    return spark.range(n_rows).select(
        F.concat(
            F.lit("k"),
            (
                F.lit(n_distinct)
                / (F.pmod(F.col("id") * F.lit(2654435761), F.lit(n_distinct)) + 1)
            )
            .cast("long")
            .cast("string"),
        ).alias("key")
    )


def test_mg_candidates_superset_guarantee(spark):
    """Every key with global count > N/(capacity+1) must appear in the
    candidate set — with 50k distinct keys and 128 counters, the
    decrement branch fires constantly and the guarantee must survive."""
    capacity = 128
    keys = _zipf_keys(spark).repartition(8)
    truth = Counter(r["key"] for r in keys.collect())
    n = sum(truth.values())
    must_have = {k for k, c in truth.items() if c > n / (capacity + 1)}
    assert 3 <= len(must_have) <= capacity, "test stream must be skewed"
    cands = {r["key"] for r in mg_candidates(keys, capacity).collect()}
    missing = must_have - cands
    assert not missing, f"MG lost guaranteed heavy hitters: {missing}"
    # and the candidate set is genuinely bounded: at most capacity per
    # partition, and strictly smaller than the vocabulary (the decrement
    # branch fired — vocab 446 > capacity 128 forces it every batch)
    assert len(cands) <= capacity * 8
    assert len(cands) < len(truth)

    # the key column is found by NAME, not position: a frame whose first
    # column is a constant must not be sketched in place of key_col
    wide = keys.select(F.lit("pad").alias("pad"), F.col("key").alias("tok"))
    wide_cands = {r["tok"] for r in mg_candidates(wide, capacity, "tok").collect()}
    assert "pad" not in wide_cands
    assert not must_have - wide_cands

    # NULL keys are not keys: the heaviest "value" of this stream is NULL,
    # and it must neither surface as a candidate nor evict a true one
    nulls = spark.range(n // 4).select(F.lit(None).cast("string").alias("key"))
    null_cands = {
        r["key"]
        for r in mg_candidates(
            keys.unionByName(nulls).repartition(8), capacity
        ).collect()
    }
    assert None not in null_cands
    assert not must_have - null_cands


def test_heavy_hitters_exact_vs_bruteforce(spark):
    capacity = 128
    denom = 100
    keys = _zipf_keys(spark).repartition(8)
    truth = Counter(r["key"] for r in keys.collect())
    n = sum(truth.values())
    want = {k: c for k, c in truth.items() if c * denom > n}
    got = {
        r["key"]: r["cnt"]
        for r in heavy_hitters(keys, denom, capacity).collect()
    }
    assert got == want


def test_heavy_hitters_refuses_unsound_capacity(spark):
    import pytest

    keys = _zipf_keys(spark, n_rows=100)
    with pytest.raises(ValueError):
        heavy_hitters(keys, threshold_denom=1000, capacity=128)


def test_xt23_matches_bruteforce_pair_counts(spark):
    """Vocab-weighted pair counts == per-occurrence brute force: the two
    formulations are algebraically identical; pin it on real data."""
    docs = table(spark, SF, "documents").select("text").collect()
    counts = Counter()
    for r in docs:
        for w in r["text"].split(" "):
            for i in range(len(w) - 1):
                counts[w[i : i + 2]] += 1
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [(r["pair"], r["n"]) for r in q_xt23(spark, SF).collect()]
    assert sorted(got, key=lambda kv: (-kv[1], kv[0])) == want


def test_xt24_shard_balance_beats_modulo(spark):
    """Snake dealing keeps the byte spread across shards far tighter than
    naive rank-modulo; also every doc lands in exactly one shard."""
    from ida_dataengineerproject_spark.queries.training_ops import q_xt24
    from ida_dataengineerproject_spark.sources.tables import table

    out = q_xt24(spark, SF).collect()
    docs = sorted(
        (
            (r["n_chars"], r["doc_id"])
            for r in table(spark, SF, "documents")
            .select("doc_id", "n_chars")
            .collect()
        ),
        key=lambda t: (-t[0], t[1]),
    )
    assert sum(r["n_docs"] for r in out) == len(docs)
    # python replica of the snake deal
    n_shards = 8
    totals = [0] * n_shards
    mod_totals = [0] * n_shards
    for r0, (nc, _) in enumerate(docs):
        pos = r0 % n_shards
        sh = pos if (r0 // n_shards) % 2 == 0 else n_shards - 1 - pos
        totals[sh] += nc
        mod_totals[pos] += nc
    got = {r["shard"]: r["total_chars"] for r in out}
    assert got == {i: t for i, t in enumerate(totals)}
    spread = max(totals) - min(totals)
    mod_spread = max(mod_totals) - min(mod_totals)
    assert spread <= mod_spread


def test_kmv_overlap_estimation_regime(spark):
    """Two 30k-key sets with 1/3 overlap, k=256 — far past the exact
    regime; the intersection estimate must land within the contract
    tolerance, and the sketches must actually be truncated (sk_n == k)."""
    from ida_dataengineerproject_spark.operators.sketch import (
        kmv_overlap,
        kmv_sketch,
    )

    n, ov = 30_000, 10_000
    a = spark.range(n).select(F.lit("A").alias("g"), F.col("id").alias("k"))
    # B = last `ov` of A plus (n-ov) fresh keys
    b = spark.range(n - ov, 2 * n - 2 * ov).select(
        F.lit("B").alias("g"), F.col("id").alias("k")
    )
    sk = kmv_sketch(a.unionByName(b), "g", "k", k=256)
    rows = {r["g"]: r["sk_n"] for r in sk.select("g", "sk_n").collect()}
    assert rows == {"A": 256, "B": 256}
    est = kmv_overlap(sk, k=256).collect()[0]["est_inter"]
    assert abs(est - ov) / ov < 0.35


def test_xt25_survivorship_keeps_longest(spark):
    from collections import defaultdict

    import hashlib

    from ida_dataengineerproject_spark.queries.dedup_ops import q_xt25
    from ida_dataengineerproject_spark.sources.tables import table

    docs = (
        table(spark, SF, "documents")
        .select("doc_id", "n_chars", "text")
        .collect()
    )
    clusters = defaultdict(list)
    for r in docs:
        toks = [t for t in r["text"].strip().lower().split() if t][:8]
        ch = hashlib.md5(" ".join(toks).encode()).hexdigest()
        clusters[ch].append((r["n_chars"], r["doc_id"]))
    want = {}
    for ch, members in clusters.items():
        if len(members) < 2:
            continue
        members.sort(key=lambda t: (-t[0], t[1]))
        want[ch] = (
            members[0][1],
            len(members),
            sum(m[0] for m in members),
            members[0][0],
        )
    got = {
        r["cluster_hash"]: (
            r["canonical_doc"],
            r["n_members"],
            r["total_chars"],
            r["kept_chars"],
        )
        for r in q_xt25(spark, SF).collect()
    }
    assert got == want
    assert want, "test corpus must contain duplicate clusters"


def test_ppjoin_equals_bruteforce_and_prunes(spark):
    """Prefix-filter join == O(n^2) brute force (recall 1, in-Spark), and
    the candidate set is materially smaller than all-pairs."""
    from ida_dataengineerproject_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ppjoin_pairs,
    )
    from ida_dataengineerproject_spark.sources.tables import table

    d = table(spark, SF, "documents")
    got = sorted(
        map(tuple, ppjoin_pairs(d, "doc_id", "text", 3, 0.5).collect())
    )
    want = sorted(
        map(tuple, ngram_jaccard_pairs(d, "doc_id", "text", 3, 0.5).collect())
    )
    assert got == want and len(got) > 0
    # pruning evidence: count candidate pairs the prefix join admits
    from pyspark.sql import Window
    from ida_dataengineerproject_spark.functions.textstats import (
        ngram_shingles,
    )

    sh = d.select(
        F.col("doc_id").alias("id"), ngram_shingles("text", 3).alias("sh")
    ).filter(F.size("sh") > 0)
    n = sh.count()
    tok = sh.select("id", F.size("sh").alias("sz"), F.explode("sh").alias("s"))
    dfreq = tok.groupBy("s").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy("df", "s")
    pref = (
        tok.join(dfreq, "s")
        .withColumn("pos", F.row_number().over(w))
        .where(
            F.col("pos")
            <= F.col("sz") - F.ceil(F.lit(0.5) * F.col("sz")).cast("int") + 1
        )
        .select("id", "s")
    )
    a, b = pref.alias("a"), pref.alias("b")
    n_cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .select("a.id", "b.id")
        .distinct()
        .count()
    )
    assert n_cand < n * (n - 1) / 2 / 4, (n_cand, n)


def test_ppjoin_equals_bruteforce_boundary_thresholds(spark):
    """ADVICE r12: thresholds whose length/overlap bounds hit exact
    integers (t=0.25 ⇒ t·sz integral for sz%4==0; t=0.3, t/(1+t)=3/13)
    must not lose boundary pairs to float-rounded ceils — the recall-1
    contract holds for every threshold, not just the default 0.5."""
    from ida_dataengineerproject_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ppjoin_pairs,
    )
    from ida_dataengineerproject_spark.sources.tables import table

    d = table(spark, SF, "documents")
    for t in (0.25, 0.3):
        got = sorted(
            map(tuple, ppjoin_pairs(d, "doc_id", "text", 3, t).collect())
        )
        want = sorted(
            map(tuple, ngram_jaccard_pairs(d, "doc_id", "text", 3, t).collect())
        )
        assert got == want and len(got) > 0, t


def test_mg_candidates_preserves_bigint_key_type(spark):
    """ADVICE r6: the candidate schema must derive from the input key
    type — bigint keys used to be silently stringified, and the
    heavy_hitters confirm join then compared mismatched types."""
    keys = spark.range(10_000).select(
        (F.pmod(F.col("id") * F.lit(2654435761), F.lit(50)) + 1)
        .cast("long")
        .alias("key")
    )
    cands = mg_candidates(keys.repartition(4), 16)
    assert dict(cands.dtypes)["key"] == "bigint"
    # and the superset guarantee still holds on the typed stream
    truth = Counter(r["key"] for r in keys.collect())
    n = sum(truth.values())
    must_have = {k for k, c in truth.items() if c > n / 17}
    got = {r["key"] for r in cands.collect()}
    assert must_have <= got
