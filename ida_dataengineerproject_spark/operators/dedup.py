"""Deduplication operators for training-data pipelines (SURVEY.md §2.11
x01/x02): exact hash dedup, n-gram Jaccard, MinHash+LSH, SimHash.

Reference parity: the reference's only dedup is UNIQUE(hash_registro) +
ON CONFLICT DO NOTHING (etl/etl_ida.py:534, schema_star.sql:93) — the exact
path here.  Near-dup is the driver-mandated extension.

Scale design (the whole point of these implementations):
- Exact dedup = hash → row_number per hash → keep first.  One shuffle on the
  hash; deterministic winner (unlike dropDuplicates).
- MinHash+LSH avoids the O(n²) pair space: signatures and band hashes
  come from one numpy pass per Arrow batch, banding explodes each doc into
  `bands` rows, and candidates come from an equi-join on (band, band_hash)
  — shuffle-join friendly, no cartesian anywhere.  Verification re-joins
  shingle sets only for candidate pairs.
- SimHash: md5-derived signature via additive bit voting in one numpy pass
  per Arrow batch; candidate pairs via chunk banding (Hamming-distance
  ≤ 3 ⇒ at least one of 4 chunks equal, pigeonhole).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exprs import let1
from ..functions.textstats import ngram_shingles
from ..session import materialize


# ---------------------------------------------------------------- exact

def exact_dedup(df: DataFrame, hash_col: Column, id_col: str) -> DataFrame:
    """Keep the lowest-id row per hash value (ON CONFLICT DO NOTHING with a
    deterministic winner).  Adds ``hash_registro`` and ``n_dups``."""
    w = Window.partitionBy("hash_registro").orderBy(id_col)
    return (
        df.withColumn("hash_registro", hash_col)
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n_dups", F.count("*").over(Window.partitionBy("hash_registro")))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------- jaccard

def jaccard(a: Column, b: Column) -> Column:
    """Set Jaccard over two arrays — exact ints → exact double division,
    oracle-reproducible.

    PRECONDITION: both arrays must be DISTINCT-ELEMENT (e.g. built by
    array_distinct / collect_set / ngram_shingles).  With duplicate
    elements the |A|+|B|−|A∩B| union identity below silently returns
    wrong values (the pre-r12 array_union form deduped as a side
    effect; this one does not — ADVICE r12).

    Computes only |A∩B| (let-bound, one evaluation) and derives the union
    by the exact integer identity |A∪B| = |A|+|B|−|A∩B| — valid because
    the inputs are distinct-element by contract.  The per-row array_union
    costs as much as the intersect and its size is implied; dropping it
    halved the verification stage of every Jaccard consumer (r12, sf0.1:
    x02 brute-force pairs 2.8 → 1.5 s class)."""
    return let1(
        F.size(F.array_intersect(a, b)),
        lambda i: i.cast("double")
        / (F.size(a) + F.size(b) - i).cast("double"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Brute-force O(n²) near-dup pairs by word-n-gram Jaccard — the
    correctness baseline the LSH path is tested against.  Only for bounded
    inputs (the caller pre-filters); at scale use minhash_lsh_pairs."""
    sh = df.select(
        F.col(id_col).alias("id"), ngram_shingles(text_col, n).alias("sh")
    ).filter(F.size("sh") > 0)
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(jaccard(F.col("a.sh"), F.col("b.sh")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------- minhash

def _banded_minhash_pandas(sh_df: DataFrame, k: int, bands: int) -> DataFrame:
    """(id, sh: array<string>) → (id, band, bh) with the whole
    shingle→signature→band-hash chain vectorized in numpy per Arrow batch.

    Hash family: multiply-shift over a blake2b-64 base digest —
    h_i(s) = a_i·base(s) + b_i (mod 2⁶⁴), a_i odd, constants from a fixed
    seed.  Signature minima via np.minimum.reduceat over the flattened
    shingle array (one pass per hash function keeps peak memory at one
    uint64 vector, not a k×total matrix).  Band hash = seeded
    multiply-mix of the band's r minima (any uniform family gives the
    (1/b)^(1/r) banding curve).  Measured ~3× faster at sf0.1 than the
    xxhash64 higher-order-function expression it replaced, because
    interpreted per-element HOF evaluation becomes dense vector code."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(10423)
    mul = rng.integers(1, 2**62, size=k, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    add = rng.integers(0, 2**62, size=k, dtype=np.uint64)
    r = k // bands
    mix = rng.integers(1, 2**62, size=r, dtype=np.uint64) * np.uint64(2) + np.uint64(1)

    def gen(batches):
        from hashlib import blake2b

        for pdf in batches:
            if pdf.empty:
                continue
            shingle_lists = pdf["sh"].to_numpy()
            lens = np.array([len(s) for s in shingle_lists], dtype=np.int64)
            # hash each DISTINCT shingle once per batch, then gather —
            # near-duplicate corpora repeat shingles heavily
            vocab: dict[str, int] = {}
            for s in shingle_lists:
                for x in s:
                    if x not in vocab:
                        vocab[x] = int.from_bytes(
                            blake2b(x.encode(), digest_size=8).digest(), "big"
                        )
            base = np.array(
                [vocab[x] for s in shingle_lists for x in s], dtype=np.uint64
            )
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            n_docs = len(shingle_lists)
            sig = np.empty((k, n_docs), dtype=np.uint64)
            for i in range(k):
                sig[i] = np.minimum.reduceat(mul[i] * base + add[i], starts)
            band_sig = sig.T.reshape(n_docs, bands, r)
            bh = (band_sig * mix).sum(axis=2, dtype=np.uint64)
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf["id"].to_numpy(), bands),
                    "band": np.tile(np.arange(bands, dtype=np.int32), n_docs),
                    "bh": np.ascontiguousarray(bh.reshape(-1)).view(np.int64),
                }
            )

    return sh_df.mapInPandas(gen, schema="id long, band int, bh long")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 30,
    bands: int = 10,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact Jaccard verification.

    Plan shape: shingle (map) → signature (map) → explode to `bands` rows
    (map) → shuffle on (band, band_hash) → self-join → distinct candidate
    pairs → re-join shingles → verify.  Candidate volume scales with true
    collisions, never with n².

    Default k=30/bands=10 (r=3): LSH threshold (1/b)^(1/r) ≈ 0.46 —
    centered just below the 0.5 verify threshold.  P(candidate) at j=0.6
    is 0.91 and ≈1 by j=0.8, while unrelated docs (j≈0.03) collide with
    P≈3e-4, keeping the candidate set ~collisions-sized, not O(n²).
    The exact-Jaccard verification removes surviving false candidates.

    Shingle-hash/signature/band-hash run in one numpy pass per Arrow
    batch (_banded_minhash_pandas); the exact-Jaccard verification step
    makes the final pairs hash-family-independent above the threshold.
    """
    sh = df.select(
        F.col(id_col).alias("id"), ngram_shingles(text_col, n).alias("sh")
    ).filter(F.size("sh") > 0)

    # parallelize the signature stage even when the source is a single
    # parquet partition (see simhash_chunks for rationale)
    target = df.sparkSession.sparkContext.defaultParallelism
    if sh.rdd.getNumPartitions() < target:
        sh = sh.repartition(target)
    # THREE consumers read sh (banding, and both sides of the verify
    # join): materialize it once instead of recomputing scan + shingle
    # build per consumer (guide §8: compute the proxy once).  r12
    # measured at sf0.1: pipeline 3.4 → 2.6 s, x02b 1.55 → 1.34 s, pair
    # set identical.
    sh = materialize(sh)

    banded = _banded_minhash_pandas(sh, k, bands)

    cand = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bh") == F.col("y.bh"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )

    sh_a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------- simhash

def _simhash_chunks_pandas(
    df: DataFrame, id_name: str, text_name: str, n_chunks: int, chunk_bits: int
) -> DataFrame:
    """(id, text) → (id, sig: array<long>) with tokenize/hash/bit-vote
    vectorized in numpy per Arrow batch.  md5-derived hash family, the
    same as the DuckDB oracle's: chunk c's token hash is
    md5 hex chars [c·w, c·w + w), bit b = (h >> b) & 1, signature bit set
    iff the ±1 token vote is > 0.  Docs with no tokens are dropped (they
    have no signature — matches the oracle's unnest semantics)."""
    import numpy as np
    import pandas as pd

    w = chunk_bits // 4

    def gen(batches):
        from hashlib import md5

        for pdf in batches:
            if pdf.empty:
                continue
            token_sets = [
                sorted({x for x in t.split() if x})
                for t in pdf[text_name].to_numpy()
            ]
            keep = np.array([len(t) > 0 for t in token_sets])
            if not keep.any():
                continue
            token_sets = [t for t in token_sets if t]
            lens = np.array([len(t) for t in token_sets], dtype=np.int64)
            # hash each DISTINCT token once per batch (Zipf: the batch
            # vocabulary is far smaller than the token stream), then look
            # chunk values up per occurrence
            vocab = {x for t in token_sets for x in t}
            chunk_of = {}
            for x in vocab:
                h = md5(x.encode()).hexdigest()
                chunk_of[x] = [
                    int(h[c * w : (c + 1) * w], 16) for c in range(n_chunks)
                ]
            # (n_tokens, n_chunks) chunk hash values
            base = np.array(
                [chunk_of[x] for t in token_sets for x in t], dtype=np.int64
            )
            # ±1 votes per (token, chunk, bit) → per-doc sums → sign bits
            bits = (base[:, :, None] >> np.arange(chunk_bits)) & 1
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            votes = np.add.reduceat(2 * bits - 1, starts, axis=0)
            sig = ((votes > 0).astype(np.int64) << np.arange(chunk_bits)).sum(
                axis=2
            )
            yield pd.DataFrame(
                {
                    id_name: pdf[id_name].to_numpy()[keep],
                    "sig": list(sig),
                }
            )

    return df.mapInPandas(gen, schema=f"{id_name} long, sig array<bigint>")


def simhash_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_chunks: int = 4,
    chunk_bits: int = 24,
) -> DataFrame:
    """(id, sig, chunk, cv) banding rows for SimHash LSH: one row per
    (doc, chunk index), cv = that chunk's signature value.

    Scale knobs (the fix for the fixed-2¹⁶-bucket cliff): bucket space
    per chunk is 2^chunk_bits — at the default 24 bits that is 16.7M
    buckets, so at N docs a bucket holds ~N/2²⁴ rows and the within-
    bucket self-join stays linear-ish far beyond billions of docs; raise
    ``chunk_bits`` (≤ 32 with n_chunks=4 under md5's 128 bits) as the
    corpus grows.  More chunks widen the Hamming guarantee
    (n_chunks ≥ max_hamming+1 ⇒ pigeonhole recall 1)."""
    if n_chunks * chunk_bits > 128:
        raise ValueError("md5 provides 128 bits: n_chunks*chunk_bits <= 128")
    if chunk_bits % 4 or chunk_bits > 48:
        raise ValueError("chunk_bits must be a multiple of 4, <= 48")

    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    # the Python stage parallelizes per input partition — a single
    # parquet file arrives as 1 partition and would run the batch
    # kernel single-threaded; a round-robin repartition of the raw
    # (id, text) rows is cheap relative to signature work
    target = df.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < target:
        src = src.repartition(target)
    sig_df = _simhash_chunks_pandas(src, "id", "text", n_chunks, chunk_bits)
    return sig_df.select(
        "id",
        "sig",
        F.posexplode("sig").alias("chunk", "cv"),
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n_chunks: int | None = None,
    chunk_bits: int = 24,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming over an
    (n_chunks·chunk_bits)-bit md5-derived SimHash.

    Candidates via chunk banding: distance ≤ max_hamming ⇒ ≥1 of the
    n_chunks (= max_hamming+1 by default) chunks is identical
    (pigeonhole), so an equi-join on (chunk_idx, chunk_value) finds all
    true pairs without a cartesian product.  Bucket space per chunk is
    2^chunk_bits (16.7M at the default 24) — the parameterization that
    keeps within-bucket self-joins from going quadratic at corpus scale.

    The signature is md5-based and deterministic across engines, so the
    full pair set is reproducible in ANSI SQL (see the x02c oracle).
    The signature is computed in a vectorized Arrow batch
    (_simhash_chunks_pandas)."""
    if n_chunks is None:
        n_chunks = max_hamming + 1
    if n_chunks < max_hamming + 1:
        raise ValueError("need n_chunks >= max_hamming+1 for pigeonhole recall")
    chunks = simhash_chunks(df, id_col, text_col, n_chunks, chunk_bits)
    # both sides of the banding self-join read chunks — without this the
    # signature stage (the mapInPandas kernel) executes twice.  r12
    # measured at sf0.1: 1.15 → 0.79 s, pair set identical.
    chunks = materialize(chunks)
    # unrolled per-chunk XOR popcount: plain expressions stay inside
    # whole-stage codegen, where a zip_with/aggregate lambda would be
    # interpreted per candidate pair — and on a near-duplicate-heavy
    # corpus the candidate set (true collisions) is orders of magnitude
    # larger than the output, so per-candidate cost dominates
    hamming = sum(
        F.bit_count(
            F.element_at(F.col("x.sig"), k + 1).bitwiseXOR(
                F.element_at(F.col("y.sig"), k + 1)
            )
        )
        for k in range(n_chunks)
    ).cast("int")
    return (
        chunks.alias("x")
        .join(
            chunks.alias("y"),
            (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.cv") == F.col("y.cv"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        # filter BEFORE distinct: most candidates exceed max_hamming, so
        # the dedup shuffle sees only true pairs (order of magnitude less)
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ppjoin_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (PPJoin family,
    Xiao et al. WWW'08 / Chaudhuri et al. ICDE'06): all pairs with
    shingle-Jaccard >= threshold, with recall 1 GUARANTEED — the
    deterministic complement to minhash_lsh_pairs (whose recall is only
    probabilistically ~1).

    The filter: order every document's shingles by a single global rank
    (ascending document frequency, rarest first — maximizes pruning);
    if J(A,B) >= t then |A∩B| >= ceil(t·|A|), and an intersection that
    avoids A's first |A| − ceil(t·|A|) + 1 tokens fits inside the
    remaining ceil(t·|A|) − 1 — contradiction.  So every qualifying
    pair shares a token within BOTH prefixes, and the candidate join
    only needs the prefix postings: cost Σ_token prefix-df², driven by
    RARE tokens (tiny df) instead of the full posting mass.  Candidates
    then verify with the exact Jaccard on full shingle arrays.

    Two further LOSSLESS prunes ride the candidate join (the PPJoin
    length and positional filters, Xiao et al. WWW'08 §3):
    - length: J >= t forces t·|A| <= |B| and t·|B| <= |A| (the
      intersection fits inside either set), so size-incompatible
      postings never pair;
    - positional: a shared prefix token at ranks (pos_a, pos_b) caps
      the overlap at 1 + min(|A|−pos_a, |B|−pos_b), which must reach
      ceil(t/(1+t)·(|A|+|B|)) (the J>=t overlap bound via
      |A∪B| = |A|+|B|−|A∩B|).
    Verification computes only the intersection size; the union size is
    the exact integer identity |A|+|B|−|A∩B| (shingle arrays are
    distinct by construction), so the per-candidate array_union — as
    expensive as the intersect itself — is gone.  r12 measured at
    sf0.1: candidates 409k → 125k, wall 15.2 s → 3.9 s, pair set
    bit-identical.

    Scale shape: one token-keyed df aggregate, one doc-bounded window
    (rank within document), the prefix self-equi-join, and an id-keyed
    verify join — nothing quadratic in the corpus, no probabilistic
    knob to tune."""
    sh = df.select(
        F.col(id_col).alias("id"), ngram_shingles(text_col, n).alias("sh")
    ).filter(F.size("sh") > 0)
    tok = sh.select(
        "id", F.size("sh").alias("sz"), F.explode("sh").alias("s")
    )
    dfreq = tok.groupBy("s").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy("df", "s")

    # ceil over a Python-float product can land one ABOVE the exact
    # rational bound when that bound is an integer the binary float
    # rounds up past (ADVICE r12) — an over-tight bound here would
    # shorten a prefix / prune a true boundary pair and break the
    # recall-1 contract for some thresholds.  Subtracting 1e-9 before
    # ceil restores the exact bound whenever it is an integer and is
    # far below the gap to the next representable rational otherwise
    # (shingle sets are ≤ ~10⁴ elements, so bound fractions are ≥ ~1e-4
    # away from integers when non-integral).  At t=0.5 every bound is
    # exact in binary and the output is bit-identical (pinned by the
    # boundary-threshold tests in test_vocab_ops.py).
    def _ceil_eps(x: Column) -> Column:
        return F.ceil(x - F.lit(1e-9))

    pref_len = (
        F.col("sz")
        - _ceil_eps(F.lit(threshold) * F.col("sz")).cast("int")
        + F.lit(1)
    )
    pref = (
        tok.join(dfreq, "s")
        .withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= pref_len)
        .select("id", "s", "sz", "pos")
    )
    a, b = pref.alias("a"), pref.alias("b")
    min_overlap = _ceil_eps(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.sz") + F.col("b.sz"))
    )
    overlap_ub = F.lit(1) + F.least(
        F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos")
    )
    cands = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.id") < F.col("b.id"))
            # length filter (both directions — the posting join is not
            # size-ordered)
            & (F.col("b.sz") >= _ceil_eps(F.lit(threshold) * F.col("a.sz")))
            & (F.col("a.sz") >= _ceil_eps(F.lit(threshold) * F.col("b.sz")))
            # positional filter
            & (overlap_ub >= min_overlap),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    jac = jaccard(F.col("sh_a"), F.col("sh_b"))
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
