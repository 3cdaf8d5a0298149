"""Manifest-based data skipping — Iceberg/Delta-style pruning from
bucket-level statistics, composed with Z-order clustering, with NO
driver-side file list.

Parquet row-group statistics prune *within* a scan, but the scan still
lists and footer-reads every file.  Lake formats avoid that with a
manifest: per-unit min/max per column, consulted BEFORE the scan so
non-overlapping units are never opened.  The unit here is the Z-order
range BUCKET, materialized as a partition directory
(``__zbucket=<n>/``, written by ``write_zorder_partitioned``), so the
pruning decision feeds Spark's own partition pruning instead of an
explicit path list:

- the manifest is a TABLE (one row per bucket: min/max per clustered
  column + file count) built with one aggregation and persistable as
  parquet — at 10⁶+ files it is read and filtered like any other table,
  never collected;
- pruning is a relational interval-overlap FILTER on that table
  (``prune_buckets`` — pure DataFrame ops, no driver loop);
- the pruned read is a broadcast semi-join of the data against the
  surviving bucket ids: Catalyst's Dynamic Partition Pruning inserts the
  bucket filter into the scan's PartitionFilters, so non-surviving
  directories are never listed or opened.  The driver holds partition
  *directories* (bounded by bucket count, chosen at write time), never
  per-file rows.

A residual filter stays on top — pruning is a superset guarantee, not an
exact one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import materialize

BUCKET_COL = "__zbucket"


def write_zorder_partitioned(
    df: DataFrame,
    a: str,
    b: str,
    num_buckets: int,
    path: str,
    compress: bool = True,
) -> None:
    """Z-order-cluster `df` on (a, b) and write it partitioned by the
    range-bucket id: one directory per curve bucket, rows inside each
    sorted along the curve — the layout ``pruned_read`` skips over.
    ``compress`` (default) order-preservingly maps 64-bit ids into the
    curve's 31-bit dimensions (operators/zorder.compress_ranges) — the
    manifest and pruning read the ORIGINAL column values, so pruning
    correctness never depends on the curve coordinates."""
    from ..operators.zorder import cluster_by_zorder

    clustered = cluster_by_zorder(
        df, a, b, num_buckets, compress=compress, keep_bucket=True
    )
    clustered.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(path)


def build_bucket_manifest(
    spark: SparkSession, path: str, cols: list[str]
) -> DataFrame:
    """Per-bucket min/max statistics for `cols` plus file count: one
    aggregation pass, output rows == bucket count.  Persist the result
    next to the data (`.write.parquet(path + "_manifest")`) to make
    pruning a pure table read at scale."""
    df = spark.read.parquet(path).withColumn("__file", F.input_file_name())
    aggs = [F.countDistinct("__file").alias("n_files")]
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    # Materialize the (bucket-count-sized) manifest ONCE: every consumer —
    # the pruned read's broadcast semi-join, the totals readout, the kept
    # readout — would otherwise recompute this aggregate's full DATA scan
    # lazily (the xs4 r5 regression: 3 hidden scans of the table per
    # pruned read).  materialize keeps it on executors — bounded rows,
    # never a driver collect, same contract at a 10⁶-row manifest.
    return materialize(df.groupBy(BUCKET_COL).agg(*aggs))


def keep_expr(predicates: dict[str, tuple]) -> "F.Column":
    """The bucket-keep predicate as ONE boolean Column: [min, max]
    envelope overlaps EVERY predicate interval.  Shared by
    ``prune_buckets`` (the actual pruning filter) and ``pruned_read``'s
    stats aggregate, so the reported buckets_read/files_read can never
    drift from what the read prunes.

    An all-NULL column envelope (min and max both NULL) cannot satisfy an
    inclusive-bounds residual filter, so those buckets are pruned."""
    kept = F.lit(True)
    for c, (lo, hi) in predicates.items():
        mn, mx = F.col(f"min_{c}"), F.col(f"max_{c}")
        kept = kept & (
            mn.isNotNull() & mx.isNotNull()
            & (mx >= F.lit(lo)) & (mn <= F.lit(hi))
        )
    return kept


def prune_buckets(manifest: DataFrame, predicates: dict[str, tuple]) -> DataFrame:
    """Buckets satisfying ``keep_expr`` — a relational filter on the
    manifest table (no collect, no driver loop; works unchanged on a
    10⁶-row manifest)."""
    return manifest.filter(keep_expr(predicates))


def pruned_read(
    spark: SparkSession,
    path: str,
    manifest: DataFrame,
    predicates: dict[str, tuple],
) -> tuple[DataFrame, dict[str, int]]:
    """Read only the buckets whose envelope overlaps every predicate
    interval; returns (DataFrame with residual filters applied,
    {buckets_total, buckets_read, files_total, files_read}).

    The data never sees a file list: surviving bucket ids are broadcast
    into a LEFT SEMI join on the partition column, and Dynamic Partition
    Pruning turns that into a PartitionFilter on the scan — pruned
    directories are never listed or opened.  The stats readout is one
    2-row aggregate over the (bucket-count-sized) manifest, not a row
    collect."""
    keep = prune_buckets(manifest, predicates)

    df = spark.read.parquet(path).join(
        F.broadcast(keep.select(BUCKET_COL)), BUCKET_COL, "left_semi"
    )
    for c, (lo, hi) in predicates.items():
        df = df.filter((F.col(c) >= lo) & (F.col(c) <= hi))

    # total + kept counts in ONE bounded job: the SAME keep predicate the
    # pruning filter uses (keep_expr) becomes a flag column and both
    # sides aggregate conditionally (was two sequential collects over the
    # manifest — pure job-overhead at any scale, since the manifest is
    # already materialized)
    kept_flag = keep_expr(predicates)
    row = manifest.agg(
        F.count("*").alias("bt"),
        F.sum("n_files").alias("ft"),
        F.count_if(kept_flag).alias("bk"),
        F.sum(F.when(kept_flag, F.col("n_files"))).alias("fk"),
    ).collect()[0]
    stats = {
        "buckets_total": int(row.bt),
        "buckets_read": int(row.bk),
        "files_total": int(row.ft or 0),
        "files_read": int(row.fk or 0),
    }
    return df.drop(BUCKET_COL), stats


def build_bloom_index(
    spark: SparkSession,
    path: str,
    part_col: str,
    key: str,
    n_hashes: int = 3,
    m: int = 4096,
) -> DataFrame:
    """Per-partition Bloom bit-position table for point lookups on a
    NON-partition key — the Iceberg/Delta bloom-index pattern: the
    directory layout encodes one dimension (e.g. month), the bloom index
    answers "which directories can contain key k" for a key the layout
    doesn't order by.

    One aggregation pass over (partition, key); output is at most
    partitions x m rows of (part_col, pos) — persist next to the data
    like the min/max manifest.  Hash family: the shared Carter-Wegman
    integer family (functions/hashing.py), bit-identical across engines
    so an oracle can rebuild the index relationally."""
    from ..functions.hashing import bloom_positions

    df = spark.read.parquet(path).select(part_col, key)
    return bloom_positions(df, key, n_hashes, m, part_cols=(part_col,))


def bloom_pruned_lookup(
    spark: SparkSession,
    path: str,
    index: DataFrame,
    part_col: str,
    key: str,
    keys_df: DataFrame,
    n_hashes: int = 3,
    m: int = 4096,
    with_stats: bool = True,
):
    """Point-lookup of `keys_df[key]` against the partitioned table at
    `path`, reading ONLY partitions whose bloom admits at least one key
    (all `n_hashes` positions present).  Returns (DataFrame, stats).

    Pruning is a superset guarantee (bloom false positives admit extra
    partitions, never lose one); the exact semi-join on the key is the
    residual filter.  The candidate-partition set is broadcast — Spark
    turns it into a partition filter via Dynamic Partition Pruning, so
    non-candidate directories are never listed or opened.  100 TB: the
    index is O(partitions x m) rows, the lookup side is the (small)
    key set, and the data-side cost is O(candidate partitions).

    The all-hashes requirement is ONE aggregate over the posexploded
    probe positions (count-distinct-j == n_hashes), not n_hashes
    DataFrame intersects — the per-j intersect chain cost ~1.3 s of
    driver-side plan work per call (trap 23a).  `with_stats=False`
    skips the two eager partition-count jobs; the lookup itself never
    needed them."""
    from ..functions.hashing import cw_bucket

    probes = keys_df.select(
        F.col(key),
        F.posexplode(
            F.array(
                *[cw_bucket(F.col(key), j, m) for j in range(1, n_hashes + 1)]
            )
        ).alias("j", "pos"),
    )
    cand_parts = (
        probes.join(index, "pos")
        .groupBy(part_col, key)
        .agg(F.countDistinct("j").alias("nj"))
        .filter(F.col("nj") == n_hashes)
        .select(part_col)
        .distinct()
    )

    stats = {}
    if with_stats:
        stats = {
            "parts_total": spark.read.parquet(path)
            .select(part_col)
            .distinct()
            .count(),
            "parts_read": cand_parts.count(),
        }

    data = spark.read.parquet(path).join(
        F.broadcast(cand_parts), part_col, "left_semi"
    )
    hit = data.join(F.broadcast(keys_df.select(key).distinct()), key, "left_semi")
    return hit, stats
