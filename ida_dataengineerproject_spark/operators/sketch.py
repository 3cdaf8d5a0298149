"""Count-Min sketch over a key column — sub-linear frequency estimation
as pure DataFrame ops (no driver-side state, no UDF).

Why an engine needs it at 100 TB: exact per-key counts of a
high-cardinality column (users, URLs, n-grams) shuffle one row per
distinct key; a CMS shuffles d×w fixed counters (here 4×1024 ≈ 4k rows)
no matter how many keys exist, and answers point-frequency queries with
the classic one-sided guarantee: est ≥ true, and
P[est > true + ε·N] ≤ δ with w = ⌈e/ε⌉, d = ⌈ln(1/δ)⌉.

Build: explode each row to d (row_idx, bucket) pairs via xxhash64(seed,
key) mod w — map-side, then ONE aggregate over (row_idx, bucket): the
shuffle payload is the sketch size, not the data size.  Query: join keys
against the sketch on (row_idx, bucket), take min over the d counters.

The sketch is itself a DataFrame, so it persists like any table, and
CMS(A ∪ B) is the elementwise counter sum of CMS(A) and CMS(B) — the
property that makes it work across partitions/days/streams.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEPTH = 4
WIDTH = 1024


def _bucket(key: Column, seed: int, width: int) -> Column:
    return F.pmod(F.xxhash64(F.lit(seed), key), F.lit(width))


def cms_build(
    df: DataFrame, key: str, depth: int = DEPTH, width: int = WIDTH
) -> DataFrame:
    """Build the sketch: DataFrame(row_idx int, bucket long, cnt long)
    with depth×width rows at most, regardless of |df| or key cardinality."""
    rows = df.select(
        F.posexplode(
            F.array(
                *[
                    _bucket(F.col(key).cast("string"), d, width)
                    for d in range(depth)
                ]
            )
        ).alias("row_idx", "bucket")
    )
    return rows.groupBy("row_idx", "bucket").agg(F.count("*").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key: str,
    depth: int = DEPTH,
    width: int = WIDTH,
) -> DataFrame:
    """Point-frequency estimates for ``keys[key]``: min over the d
    counters each key hashes to.  The sketch (≤ depth×width rows) is
    broadcast; the probe is a map-side join + tiny aggregate."""
    probes = keys.select(
        key,
        F.posexplode(
            F.array(
                *[
                    _bucket(F.col(key).cast("string"), d, width)
                    for d in range(depth)
                ]
            )
        ).alias("row_idx", "bucket"),
    )
    return (
        probes.join(F.broadcast(sketch), ["row_idx", "bucket"], "left")
        .groupBy(key)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
    )


def cms_join_size(
    a: DataFrame,
    b: DataFrame,
    key_a: str,
    key_b: str,
    width: int = 8192,
    depth: int = 3,
) -> DataFrame:
    """Equi-join cardinality estimate WITHOUT running the join — the CMS
    inner-product estimator (Cormode & Muthukrishnan 2005, §4.2):
    |A ⋈ B| = Σ_k f_A(k)·f_B(k), and the inner product of two CMS rows
    over-estimates it one-sidedly; min over the d rows tightens.
    Guarantee: est ≥ true always; est ≤ true + ε·|A|·|B| w.p. 1−(1/2)^d
    with ε = e/width.

    This is what a query PLANNER needs at 100 TB: each side compresses
    to depth×width counters (map-side combined aggregate, shuffle payload
    = sketch size, never data size), the sketches join on (d, bucket) —
    ≤ depth×width rows — and the per-depth inner products reduce to one
    row.  Estimating the join costs O(|A|+|B|) scan and O(sketch)
    shuffle; running it costs a full shuffle of both sides.

    Hashes are the Carter-Wegman integer family (functions/hashing.py),
    bit-identical in DuckDB — the oracle rebuilds the sketches
    relationally and must match the estimate EXACTLY, not just within
    the bound (depth ≤ 3: that family ships 3 seed pairs)."""
    from ..functions.hashing import cw_bucket

    if depth > 3:
        raise ValueError("CW family ships 3 seed pairs; depth <= 3")

    def sk(df: DataFrame, key: str) -> DataFrame:
        rows = df.select(
            F.posexplode(
                F.array(
                    *[cw_bucket(F.col(key), d, width) for d in range(1, depth + 1)]
                )
            ).alias("d", "bkt")
        )
        return rows.groupBy("d", "bkt").agg(F.count("*").alias("c"))

    sa = sk(a, key_a)
    sb = sk(b, key_b).withColumnRenamed("c", "cb")
    per_depth = (
        sa.join(sb, ["d", "bkt"])
        .groupBy("d")
        .agg(F.sum(F.col("c") * F.col("cb")).alias("ip"))
    )
    # a depth with NO overlapping buckets has inner product 0 but emits
    # no row from the inner join — the true min is then 0, not the min
    # over the depths that happened to collide (hypothesis-found on
    # disjoint key sets: test_cms_join_size_one_sided)
    return per_depth.agg(
        F.when(F.count("*") < depth, F.lit(0))
        .otherwise(F.min("ip"))
        .cast("long")
        .alias("est_join_size")
    )


def mg_candidates(
    keys: DataFrame, capacity: int = 1024, key_col: str = "key"
) -> DataFrame:
    """Per-partition Misra-Gries heavy-hitter candidates: a bounded-memory
    map-only pass that returns a DataFrame(key) guaranteed to contain
    every key whose GLOBAL count exceeds N/(capacity+1).

    Why not just groupBy(key).count()?  Partial aggregation's map-side
    hash table grows with the partition's DISTINCT count — at 100 TB of
    n-grams that is the whole vocabulary per task and the partial agg
    degenerates to hash-spill.  Misra-Gries caps the per-task state at
    ``capacity`` counters, emits ≤ capacity rows per partition, and the
    union across partitions is still a superset of the true heavy
    hitters: if cnt(k) > N/(capacity+1) globally, then by pigeonhole
    cnt_p(k) > n_p/(capacity+1) in at least one partition, where the MG
    undercount bound (≤ n_p/(capacity+1)) keeps k's counter positive.

    Batches merge via the mergeable-summaries rule (Agarwal et al.,
    TODS 2013): add exact batch counts, then subtract the
    (capacity+1)-th largest counter from all and drop the non-positive —
    total decrement stays ≤ n_p/(capacity+1).

    The stream is NOT repartitioned here: callers exploding tokens
    should round-robin the parent rows (docs) before the explode —
    shuffling the exploded stream itself would defeat the point.

    Boundary kernel (r13, guide §4.2): ``mapInArrow`` +
    ``pyarrow.compute.value_counts`` — the per-batch tally runs in
    Arrow C++ over the columnar batch as-is.  The previous
    ``mapInPandas`` form converted every batch to pandas first, boxing
    each key into a Python object before hashing it; the dict merge
    below touches only the DISTINCT keys of each batch (≪ rows), and
    the decrement rule is byte-identical to the r6 form, so the
    superset guarantee and its tests are unchanged.  The kernel sees
    only ``key_col`` (selected by name ahead of the Arrow stage), and
    NULL keys are dropped before tallying, so a NULL never takes a
    counter slot or surfaces as a candidate."""

    def gen(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        counters: dict = {}
        ktype = None
        for batch in batches:
            ktype = batch.schema.field(0).type
            vc = pc.value_counts(pc.drop_null(batch.column(0)))
            for k, c in zip(
                vc.field("values").to_pylist(), vc.field("counts").to_pylist()
            ):
                counters[k] = counters.get(k, 0) + int(c)
            if len(counters) > capacity:
                vals = sorted(counters.values(), reverse=True)
                dec = vals[capacity]
                counters = {
                    k: v - dec for k, v in counters.items() if v > dec
                }
        if counters:
            yield pa.RecordBatch.from_arrays(
                [pa.array(list(counters.keys()), type=ktype)], names=[key_col]
            )

    from pyspark.sql.types import StructType

    # schema derives from the INPUT key column type: hard-coding string
    # would silently stringify e.g. bigint keys, and heavy_hitters' join
    # then compares mismatched types via implicit cast (ADVICE r6)
    out_schema = StructType([keys.schema[key_col]])
    return keys.select(key_col).mapInArrow(gen, schema=out_schema).distinct()


def heavy_hitters(
    keys: DataFrame,
    threshold_denom: int,
    capacity: int = 1024,
    key_col: str = "key",
) -> DataFrame:
    """Exact heavy hitters — keys with count*threshold_denom > N — in two
    bounded-state passes: MG candidates (map-only, ≤capacity state), then
    an exact count of the candidate-filtered stream (broadcast semi
    filter; the partial agg's hash table is ≤ |candidates|, and the
    shuffle carries ≤ |candidates|×partitions rows).  Output is EXACT,
    not an estimate: candidates ⊇ heavy hitters requires only
    capacity+1 ≥ threshold_denom, enforced below."""
    if capacity + 1 < threshold_denom:
        raise ValueError(
            f"capacity {capacity} cannot guarantee threshold 1/{threshold_denom}"
        )
    cands = mg_candidates(keys, capacity, key_col)
    tot = keys.agg(F.count("*").alias("__n"))
    return (
        keys.join(F.broadcast(cands), key_col)
        .groupBy(key_col)
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(tot))
        .where(F.col("cnt") * F.lit(threshold_denom) > F.col("__n"))
        .select(key_col, "cnt")
    )


def kmv_sketch(df: DataFrame, group_col: str, key_col: str, k: int = 256) -> DataFrame:
    """K-minimum-values (bottom-k) distinct sketch per group:
    DataFrame(group, sk array<bigint> sorted asc, sk_n int).

    The theta-sketch family member Spark's HLL cannot replace: KMV
    sketches support set INTERSECTION estimation (Beyer et al. 2007;
    DataSketches theta), not just union — the union of two bottom-k
    samples is a bottom-k sample of the union, and membership of those
    sampled hashes in both input sketches estimates the Jaccard.

    Scale shape: one distinct on (group, hash(key)) — map-side combined —
    then a rank-filter row_number()<=k that Spark executes as
    WindowGroupLimit (per-partition top-k heaps BEFORE the shuffle), so
    no group ever materializes its full distinct set in one task.  The
    sketch rows are (groups × k) — bounded state, mergeable by
    re-sorting concatenated arrays."""
    h = F.xxhash64(F.col(key_col))
    pairs = df.select(F.col(group_col).alias("g"), h.alias("h")).distinct()
    w = Window.partitionBy("g").orderBy("h")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .groupBy("g")
        .agg(
            F.sort_array(F.collect_list("h")).alias("sk"),
            F.count("*").cast("int").alias("sk_n"),
        )
    )


def _kmv_frac(col: Column) -> Column:
    """Map a signed-64 hash to its (0,1] uniform fraction: signed order
    == fraction order, so bottom-k by signed value is bottom-k by u."""
    return (col.cast("double") + F.lit(2.0**63) + F.lit(1.0)) / F.lit(2.0**64)


def kmv_overlap(sketches: DataFrame, k: int = 256) -> DataFrame:
    """Pairwise distinct-intersection estimates from KMV sketches:
    (g_a, g_b, est_inter double).  When both sketches are complete
    (sk_n < k) the 'estimate' is exact set arithmetic; otherwise the
    bottom-k of the merged sample gives theta, union_est = (k-1)/u(theta),
    and the fraction of merged-sample hashes present in BOTH sketches
    scales it down to the intersection."""
    a = sketches.select(
        F.col("g").alias("g_a"), F.col("sk").alias("sk_a"), F.col("sk_n").alias("n_a")
    )
    b = sketches.select(
        F.col("g").alias("g_b"), F.col("sk").alias("sk_b"), F.col("sk_n").alias("n_b")
    )
    j = a.join(b, F.col("g_a") < F.col("g_b"))
    merged = F.expr(f"slice(array_sort(array_distinct(concat(sk_a, sk_b))), 1, {k})")
    j = j.withColumn("m", merged)
    both = F.size(F.array_intersect(F.col("m"), F.array_intersect("sk_a", "sk_b")))
    complete = (F.col("n_a") < k) & (F.col("n_b") < k)
    exact_inter = F.size(F.array_intersect("sk_a", "sk_b")).cast("double")
    theta = F.element_at(F.col("m"), F.size("m"))
    union_est = F.lit(float(k - 1)) / _kmv_frac(theta)
    est = (both.cast("double") / F.lit(float(k))) * union_est
    return j.select(
        "g_a",
        "g_b",
        F.when(complete, exact_inter).otherwise(est).alias("est_inter"),
    )
