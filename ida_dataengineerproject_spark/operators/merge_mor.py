"""Merge-on-read (MOR) over bucket-partitioned parquet: deletion-vector
deletes and append-only upserts, with read-time reconciliation and a
bucket-selective compaction that folds the vectors back in.

operators/merge_cow.py is the copy-on-write half of the lake surface: a
MERGE rewrites every impacted bucket, so writes cost O(impacted buckets)
and reads are a plain scan.  This module is the other half of the
trade — the Delta deletion-vector / Iceberg merge-on-read position:

* a DELETE or UPSERT writes only O(changeset) bytes — a deletion-vector
  file of (key, commit) tombstones plus, for upserts, an append file of
  the new row versions.  No base file is ever rewritten (tests pin the
  base directories byte-stable across commits);
* a READ reconciles: rows from all data files, minus any row whose key
  carries a tombstone from a LATER commit.  One small aggregate over the
  DV files (per-key max tombstone commit — O(total deletes), broadcast
  when small) and one key join;
* COMPACTION rewrites only buckets whose accumulated tombstones cross a
  threshold, restoring scan-speed reads for those buckets and clearing
  their vectors — the background maintenance that keeps read
  amplification bounded.

Commit/versioning model matches merge_cow's versioned tables, through
the same ``sources.commit.versioned_commit`` (claim, write, publish the
log entry with one rename, release — a failed commit publishes nothing
and releases its claim): a JSON log maps each bucket to the list of
commits holding its data and deletion vectors; every commit writes NEW
directories only (data/v{c}/…, dv/v{c}/…), so concurrent readers of the
previous log never see a half-applied commit.  Written buckets come from
``sources.commit.written_buckets`` (a listing, no Spark job).

Row-level semantics: every stored row carries ``__commit`` (the commit
that wrote it); a deletion-vector entry (key, c) tombstones every stored
row of that key with ``__commit < c``.  An upsert at commit c therefore
writes the tombstone AND the replacement row in the same commit — the
replacement survives its own tombstone (c >= c), every older version
dies.  A later re-insert of a deleted key survives the old tombstone the
same way.

100 TB: choose MOR for delete/update-heavy tables where write latency
matters (GDPR erasure, CDC upserts) — each commit is O(changeset); the
read-side join is against the per-key tombstone aggregate, which stays
small as long as compaction runs.  Choose COW (merge_versioned) for read-heavy
tables.  The reference's row-wise INSERT .. ON CONFLICT upsert
(/root/reference/etl/etl_ida.py, op38) maps to either; this pair gives
the storage-level choice Spark itself does not provide without a
table-format jar.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import materialize, run_concurrently
from ..sources.commit import (
    BUCKET_COL,
    read_log,
    versioned_commit,
    written_buckets,
)
from .merge_cow import _upserts, bucket_of

COMMIT_COL = "__commit"


def _leaf_dirs(path: str, log: dict, kind: str, buckets=None) -> list[str]:
    """Leaf data/dv directories for the given buckets (all when None),
    resolved purely from the commit log — never by listing storage, so
    directories orphaned by compaction are naturally excluded."""
    out = []
    for b, entry in sorted(log["buckets"].items(), key=lambda kv: int(kv[0])):
        if buckets is not None and int(b) not in buckets:
            continue
        for c in entry[kind]:
            out.append(f"{path.rstrip('/')}/{kind}/v{c}/{BUCKET_COL}={b}")
    return out


def create_mor(
    spark: SparkSession, path: str, df: DataFrame, key: str, n_buckets: int
) -> int:
    """Commit v0: the base data, bucket-partitioned, each row stamped
    with ``__commit = 0``."""
    log = {"version": 0, "key": key, "n_buckets": n_buckets, "buckets": {}}
    with versioned_commit(spark, path, log):
        data = f"{path.rstrip('/')}/data/v0"
        (
            df.withColumn(BUCKET_COL, bucket_of(F.col(key), n_buckets))
            .withColumn(COMMIT_COL, F.lit(0).cast("long"))
            .write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(data)
        )
        log["buckets"] = {
            str(b): {"data": [0], "dv": []}
            for b in sorted(written_buckets(spark, data))
        }
    return 0


def upsert_mor(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    tombstone_col: str | None = None,
) -> int:
    """Apply a keyed changeset as commit n+1, writing O(changeset) bytes:
    one deletion-vector file set tombstoning every change key, plus one
    append file set holding the non-tombstoned replacement rows.  Change
    keys must be unique (one decision per key per commit).  No existing
    file is touched."""
    log = read_log(spark, path)
    key, n_buckets = log["key"], log["n_buckets"]
    c = log["version"] + 1
    buckets = {b: dict(e) for b, e in log["buckets"].items()}
    # claim commit c before any data/dv write — the loser of a concurrent
    # race fails here, not after clobbering the winner's v{c} directories
    with versioned_commit(spark, path, dict(log, version=c, buckets=buckets)):
        # materialize the changeset ONCE (O(changeset) rows): both commit
        # files below consume it, and its lineage may be arbitrarily
        # expensive (a filter over the live table, a 3-branch CDC
        # union...) — without this each write re-ran it (r13, §6
        # compute-the-proxy-once)
        ch = materialize(
            changes.withColumn(BUCKET_COL, bucket_of(F.col(key), n_buckets))
        )
        dv = ch.select(
            F.col(key),
            F.col(BUCKET_COL),
            F.lit(c).cast("long").alias(COMMIT_COL),
        )
        upserts = _upserts(ch, tombstone_col).withColumn(
            COMMIT_COL, F.lit(c).cast("long")
        )

        # the DV file set and the append file set are INDEPENDENT jobs
        # over the checkpointed changeset — overlap them (guide §2.6, the
        # write_star pattern): both keep the caller's job group, and each
        # sets its own description on its thread's copy of the local
        # properties.  Same caveat as write_star: don't run commits
        # concurrently with scoped-conf operators on the same session
        # (SQLConf is session-scoped).
        def _write(kind: str, df: DataFrame) -> None:
            spark.sparkContext.setJobDescription(f"mor commit v{c}: {kind}")
            df.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(
                f"{path.rstrip('/')}/{kind}/v{c}"
            )

        run_concurrently(
            spark,
            [partial(_write, "dv", dv), partial(_write, "data", upserts)],
        )
        for kind in ("dv", "data"):
            for b in written_buckets(spark, f"{path.rstrip('/')}/{kind}/v{c}"):
                entry = buckets.setdefault(str(b), {"data": [], "dv": []})
                entry[kind] = list(entry[kind]) + [c]
    return c


def read_mor(
    spark: SparkSession, path: str, buckets: set[int] | None = None
) -> DataFrame:
    """The reconciled current state: all stored row versions minus those
    tombstoned by a later commit.  The deletion vectors reduce to one
    per-key max-commit aggregate (O(total un-compacted deletes), a
    broadcast candidate AQE takes when small) joined against the data
    scan; a row survives iff ``__commit >= `` its key's newest tombstone.
    Helper columns are dropped — callers see the logical schema."""
    log = read_log(spark, path)
    key = log["key"]
    data_dirs = _leaf_dirs(path, log, "data", buckets)
    if not data_dirs:
        if buckets is not None:
            # a bucket selection can legitimately hit only dv-only log
            # entries (deletes for keys that never had stored rows) —
            # return a TYPED empty frame with the table's schema rather
            # than raising (ADVICE r5: compact_mor crashed on this)
            all_dirs = _leaf_dirs(path, log, "data")
            if all_dirs:
                return spark.read.parquet(*all_dirs).limit(0).drop(COMMIT_COL)
        raise FileNotFoundError(f"MOR table at {path} has no data")
    data = spark.read.parquet(*data_dirs)

    dv_dirs = _leaf_dirs(path, log, "dv", buckets)
    if not dv_dirs:
        return data.drop(COMMIT_COL)
    dvmax = (
        spark.read.parquet(*dv_dirs)
        .groupBy(key)
        .agg(F.max(COMMIT_COL).alias("__dv_commit"))
    )
    live = (
        data.join(dvmax, on=key, how="left")
        .filter(
            F.col(COMMIT_COL) >= F.coalesce(F.col("__dv_commit"), F.lit(-1))
        )
        .drop("__dv_commit", COMMIT_COL)
    )
    return live


def compact_mor(
    spark: SparkSession, path: str, min_dv_rows: int = 1
) -> dict:
    """Fold deletion vectors back into storage for every bucket whose
    accumulated tombstone count reaches ``min_dv_rows``: the bucket's
    reconciled live rows are rewritten as one fresh directory owned by
    the new commit, and its data/dv commit lists collapse to just that
    commit — subsequent reads of the bucket are plain scans again.

    Cost is O(live rows of compacted buckets); untouched buckets keep
    their exact files.  The per-bucket tombstone census is one small
    aggregate over the DV files (bucket recomputed from the key — leaf
    reads drop the partition column, merge_cow trap 23).  A bucket whose
    rows are ALL tombstoned simply leaves the log.  Superseded
    directories stay on disk for old readers (reclaim is a vacuum
    concern, same liveness rule as merge_cow.vacuum_versioned)."""
    log = read_log(spark, path)
    key, n_buckets = log["key"], log["n_buckets"]
    c = log["version"] + 1

    dv_dirs = _leaf_dirs(path, log, "dv")
    if not dv_dirs:
        return {"version": log["version"], "compacted": []}
    census = (
        spark.read.parquet(*dv_dirs)
        .groupBy(bucket_of(F.col(key), n_buckets).alias("b"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_dv_rows)
        .collect()
    )
    candidates = sorted(int(r["b"]) for r in census)
    buckets = {b: dict(e) for b, e in log["buckets"].items()}
    # A bucket can be DV-ONLY: deletes/upsert-tombstones arrived for keys
    # that never had stored rows in it (common in CDC/GDPR flows), so its
    # log entry is {data: [], dv: [...]}.  Its tombstones reference
    # nothing — the entry is dropped outright instead of being fed to
    # read_mor, which has no data directories to reconcile (ADVICE r5:
    # this crashed compaction with FileNotFoundError).
    chosen = [b for b in candidates if buckets.get(str(b), {}).get("data")]
    dv_only = [
        b
        for b in candidates
        if str(b) in buckets and not buckets[str(b)]["data"]
    ]
    for b in dv_only:
        buckets.pop(str(b))
    if not chosen and not dv_only:
        return {"version": log["version"], "compacted": []}

    with versioned_commit(spark, path, dict(log, version=c, buckets=buckets)):
        if chosen:
            data_dir = f"{path.rstrip('/')}/data/v{c}"
            (
                read_mor(spark, path, buckets=set(chosen))
                .withColumn(BUCKET_COL, bucket_of(F.col(key), n_buckets))
                .withColumn(COMMIT_COL, F.lit(c).cast("long"))
                .write.mode("overwrite")
                .partitionBy(BUCKET_COL)
                .parquet(data_dir)
            )
            written = written_buckets(spark, data_dir)
            for b in chosen:
                if b in written:
                    buckets[str(b)] = {"data": [c], "dv": []}
                else:
                    buckets.pop(str(b), None)  # every row tombstoned
    return {"version": c, "compacted": chosen, "dropped_dv_only": dv_only}
