"""SparkSession construction + per-session conf hardening.

The reference delegates execution to PostgreSQL 17 (docker-compose.yml:2-19);
our executor is Spark with AQE.  Scale posture: every choice (AQE,
skew-join handling, partition coalescing) is the same one you'd want on a
1000-executor cluster — only ``shuffle.partitions`` changes with cluster
size.  ``local_cores`` is the one reader of the local core count.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# Confs that are safe (and required for oracle fidelity) to set at runtime on
# ANY session, including one handed to us by an external driver.
_RUNTIME_CONFS = {
    # DuckDB timestamps are UTC-naive; pin Spark to UTC so date_format /
    # date_trunc agree with the oracle (pyspark_guide.md "Pitfalls").
    "spark.sql.session.timeZone": "UTC",
    # Reference parses bad numerics to None (etl/etl_ida.py:422-429) — keep
    # ANSI off so casts yield NULL instead of throwing (SURVEY.md §7.4.7).
    "spark.sql.ansi.enabled": "false",
    # events.parquet stores TIMESTAMP(NANOS) which Spark cannot represent
    # (micros max): read the raw int64 and convert in sources.tables.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Coalesce post-shuffle partitions to the advisory BYTE size instead of
    # preserving parallelism (the Spark tuning guide's recommended setting):
    # task count then follows data volume at every scale — fewer tasks on
    # small inputs (measured: flagship 1.24→0.90 s, q1 1.27→1.06 s at
    # sf0.1), 64 MB-sized tasks on big ones.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    # Broadcast joins up to 64 MB (default 10 MB is sized for 2012-era
    # executors).  The decision stays size-based, so nothing unsafe happens
    # at 100 TB — a 20 GB orders table still sort-merges; only genuinely
    # small-enough sides ship to every executor.  Measured at the x10
    # replica (~sf1, 6 M lineitem): q12 3.19→1.66 s, q3 3.07→1.58 s,
    # q9 2.27→1.71 s, q18 3.11→2.44 s, flagship 2.66→2.22 s; 256 MB was
    # NOT better (q7/q18 regressed — driver broadcast build cost).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Prefer shuffled-hash over sort-merge when neither side broadcasts:
    # the probe side skips its sort entirely.  Usually-safe under AQE —
    # post-shuffle partitions are coalesced toward the 64 MB advisory size
    # and skewJoin splitting (pinned on above — it MUST stay on alongside
    # this flag) breaks up oversized partitions AQE can see.  CAVEAT: the
    # build-side HashedRelation does not spill; a single hot key that
    # skew-split cannot subdivide (splitting is per-partition, a single
    # key's rows all hash to one map-side bucket on the BUILD side) can
    # still OOM an executor at real scale, where sort-merge would have
    # spilled.  Validated at the local x100 replica with TPC-H-uniform
    # keys; on a cluster with known heavy hitters, salt the key or flip
    # this back per-query (scoped_conf) rather than globally.  Measured
    # x100 (~sf10, 60 M lineitem): q3 5.0→3.6 s, q12 4.5→3.4 s,
    # q9 9.3→8.9 s, flagship 10.5→9.6 s; no query slower (q5/q7 neutral).
    "spark.sql.join.preferSortMergeJoin": "false",
}


def harden(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-provided session.

    Every public query entry point calls this so correctness does not depend
    on who built the SparkSession.
    """
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime conf on this build — defaults are acceptable
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict):
    """Set runtime confs for the duration of the block, then restore the
    previous values (unset if previously unset) — even on exception.

    AQE reads confs at EXECUTION time, not DataFrame-build time, so a
    query that wants a non-default conf must either execute inside this
    scope (materializing its result, e.g. via ``materialize`` on a
    bounded frame) or accept that a lazily-returned plan runs under
    whatever conf is live later.  Never set a session-wide conf and rely
    on a later ``harden()`` to reset it — the conf would leak to any
    other workload sharing the session."""
    old: dict = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        yield spark
    finally:
        # Restore by unsetting first: if the value that then surfaces (the
        # conf's built-in default) already equals the captured one, the conf
        # was never explicitly set — leave it unset rather than pinning the
        # default.  Failures are COLLECTED and re-raised (not swallowed —
        # a silent leak here is the exact bug this helper exists to
        # prevent), unless an exception is already propagating, in which
        # case they are logged so the original error is not masked.
        import logging
        import sys

        errors: list[tuple[str, Exception]] = []
        for k, prev in old.items():
            try:
                spark.conf.unset(k)
                if prev is not None:
                    try:
                        default = spark.conf.get(k)
                    except Exception:
                        default = None
                    if default != prev:
                        spark.conf.set(k, prev)
            except Exception as exc:  # noqa: PERF203 (per-key isolation)
                try:
                    if prev is not None:
                        spark.conf.set(k, prev)
                        continue
                except Exception:
                    pass
                errors.append((k, exc))
        if errors:
            msg = "scoped_conf restore failed for: " + ", ".join(
                f"{k} ({e})" for k, e in errors
            )
            if sys.exc_info()[0] is not None:
                logging.getLogger(__name__).warning(msg)
            else:
                raise RuntimeError(msg) from errors[0][1]


def materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` now and return a frame that reads the stored rows:
    the one place the engine cuts lineage.  A call site materializes
    when a frame has several consumers that would each re-run its plan;
    it says why at the call, and it never chooses how the rows are kept.

    Policy: an eager ``localCheckpoint`` at ``DISK_ONLY``.

    * Eager, so the job runs at the call — inside any ``scoped_conf``
      block around it, since AQE reads confs at execution time — and
      building a plan that materializes launches Spark jobs.
    * ``DISK_ONLY``, not the ``MEMORY_AND_DISK`` (deserialized) default.
      At the x100 replica an edge snapshot is 10⁸ rows, and deserialized
      blocks pin gigabytes of the unified memory pool, protected from
      eviction by ``storageFraction``, starving the very hash aggregates
      that read them: r9's 16 g ``AGGREGATE_OUT_OF_MEMORY`` landed in the
      triangle count's degree/distinct stage, not in the adjacency build.
      Serialized blocks are compact, and the OS page cache serves
      re-reads at memory speed without touching the JVM heap.  At toy
      sizes the level is neutral (every materialized frame forced to
      ``DISK_ONLY``: perfbench ``pass_s`` unchanged, same job counts).
    * A barrier: no filter or projection is pushed down past it.
    * Not fault-tolerant.  The blocks live on the executors that
      computed them, so on a cluster losing one mid-query fails the job
      instead of recomputing it.  That is acceptable for a step that is
      simply re-run; a long-lived deployment would change this function
      to a reliable checkpoint directory or a replicated level."""
    from pyspark.storagelevel import StorageLevel

    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)


def run_concurrently(spark: SparkSession, fns: list[Callable[[], object]]) -> list:
    """Run independent zero-argument callables (one Spark action each,
    typically a write) on a thread pool and return their results in
    order: wall is the slowest job, not the sum of their round-trips.
    At most three run at once — enough to overlap job round-trips; more
    would only queue for the same executor slots.

    Each target is wrapped in ``inheritable_thread_target(spark)`` here,
    in the caller's thread, one wrap per target: its jobs carry the
    caller's local properties (job group, description) and tags, and no
    two threads share one copy of them (Spark SQL sets its execution id
    there).  The first failure, in submission order, is re-raised once
    every target has finished — so a failed target may leave its
    siblings' output behind."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    targets = [inheritable_thread_target(spark)(fn) for fn in fns]
    with ThreadPoolExecutor(max_workers=3) as pool:
        futures = [pool.submit(t) for t in targets]
    return [f.result() for f in futures]


def local_cores() -> int:
    """Cores of the local master: ``SPARK_GRAFT_CPUS`` if set, else the
    cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(app_name: str = "ida-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = local_cores()
    parts = str(shuffle_partitions or cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", parts)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        # Console progress writes \r-control sequences that clobber [OK]
        # lines in captured transcripts (r9: PARITY txt lost 11 of 221
        # lines to it) — evidence capture must be lossless, and the bar
        # is useless in batch/pipe contexts anyway.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return harden(spark)
