"""Small-file compaction — target-file-size parquet writing.

The classic 100 TB operational failure mode: a streaming sink or an
over-partitioned shuffle leaves millions of kilobyte-scale files; every
subsequent scan pays a task + footer read per file and the NameNode/object
store pays the listing.  The fix is a rewrite that packs rows into
target-size files:

- the output partition count comes from Catalyst's own size estimate of
  the input plan (`optimizedPlan.stats.sizeInBytes` — parquet footer
  statistics, no data scan and no count job);
- the shuffle is round-robin `repartition(n)` (even file sizes, the whole
  point of compaction); `maxRecordsPerFile` caps any residual overage;
- a compacting write is one job: scan → exchange → write.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame


# Above this the "estimate" is not a measurement: plans without file
# statistics (LogicalRDD, non-file streaming micro-batches such as Kafka
# or rate sources) fall back to spark.sql.defaultSizeInBytes, which
# defaults to Long.MaxValue — dividing THAT by a file size would ask for
# ~2^36 output partitions and hang the repartition.  1 PiB is far beyond
# any single compaction call's real input, so it cleanly separates
# measurements from the sentinel.
_ESTIMATE_CAP_BYTES = 1 << 50


def estimated_plan_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the optimized plan (driver-side, no
    job): for parquet scans this is the sum of file sizes adjusted for
    pushed projections/filters.

    An ESTIMATE is the right tool here — it only sizes output-file
    parallelism (too-small estimate → fewer, bigger files; the caller
    caps the bad direction), unlike a broadcast gate where an
    underestimate OOMs (operators/graph.py uses a measured aggregate for
    that reason).  The JVM accessor is non-public API, so failure
    degrades to the sentinel and the caller's plain repartition-preserving
    pack — never an error."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # non-public API — degrade, never fail the write
        return _ESTIMATE_CAP_BYTES + 1


def write_compacted(
    df: DataFrame,
    path: str,
    target_file_mb: int = 128,
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> int:
    """Write `df` as parquet packed into ~`target_file_mb` files.

    Returns the partition (≈ file) count used.  Parquet encoding+
    compression typically shrinks in-plan bytes ~2-4×; the estimate errs
    toward more, smaller files, which is the safe direction (a too-big
    file is a worse straggler than two half-size ones).

    When Catalyst has no real statistics for the plan (its estimate is the
    defaultSizeInBytes sentinel — see _ESTIMATE_CAP_BYTES), fall back to
    the input's current partition count: the write degrades to a plain
    repartition-preserving pack instead of demanding 2^36 partitions."""
    target = target_file_mb * 1024 * 1024
    est = estimated_plan_bytes(df)
    if est >= _ESTIMATE_CAP_BYTES:
        n = max(1, df.rdd.getNumPartitions())
    else:
        n = max(1, math.ceil(est / target))
    writer = df.repartition(n).write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)
    return n
