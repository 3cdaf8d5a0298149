"""Copy-on-write MERGE over bucket-partitioned parquet with a JSON commit
log — Delta/Iceberg MERGE INTO semantics, time travel, vacuum, change
data feed and shallow clone without the table-format jars (unavailable
in this environment).

Layout: every row lives in a deterministic key bucket (``__mbucket = key
mod n_buckets``).  Commit n writes NEW directories ``data/v{n}/__mbucket=b``
for the buckets it rewrites, and its log entry ``_log/v{n}.json`` maps
every bucket to the commit that owns its current data — exactly a table
format's snapshot manifest, minimally.  A MERGE with a keyed changeset:

1. impacted bucket ids = distinct buckets of the change keys — bounded
   by ``n_buckets`` (a write-time constant), so collecting them is
   bounded metadata, never data;
2. the surviving rows of impacted buckets are read from the directories
   the log names for them (no other bucket is listed or opened), changed
   keys anti-joined out, upserts unioned in;
3. the merged buckets are written under ``data/v{n}`` and the commit is
   the publish of the log entry (``sources.commit.versioned_commit``:
   claim ``_log/v{n}.lock``, write, rename the entry in, release).
   Untouched buckets carry over in the log and keep their exact files;
   a bucket whose rows were all deleted simply leaves the log.

No data file is ever modified or moved, so older versions stay readable
and byte-stable until vacuumed.  At 100 TB the rewrite cost is
O(impacted buckets), not O(table) — the same asymptotics as Delta's COW
MERGE; choosing n_buckets trades rewrite amplification (big buckets)
against small-file pressure (many buckets).

Reference scope: the reference upserts dimensions row-wise via
INSERT ... ON CONFLICT (/root/reference/etl/etl_ida.py, op38); this is
the same MERGE semantics lifted to immutable columnar storage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import materialize
from ..sources.commit import (  # noqa: F401  (ConcurrentWriteError: re-export)
    BUCKET_COL,
    ConcurrentWriteError,
    filesystem,
    log_dir,
    log_versions,
    read_log,
    versioned_commit,
    written_buckets,
)


def bucket_of(key: Column, n_buckets: int) -> Column:
    """Deterministic bucket id: non-negative key mod n_buckets (pmod so
    negative keys still land in [0, n))."""
    return F.pmod(key.cast("long"), F.lit(n_buckets)).cast("int")


def _upserts(ch: DataFrame, tombstone_col: str | None) -> DataFrame:
    """The change rows that survive as data: all of them, or the
    non-tombstoned ones with the tombstone column dropped."""
    if not tombstone_col:
        return ch
    return ch.filter(~F.col(tombstone_col)).drop(tombstone_col)


def create_versioned(
    spark: SparkSession, path: str, df: DataFrame, key: str, n_buckets: int
) -> int:
    """Commit v0 of a versioned bucketed table: all buckets written under
    data/v0/, log records the mapping."""
    log = {"version": 0, "key": key, "n_buckets": n_buckets, "buckets": {}}
    with versioned_commit(spark, path, log):
        data = path.rstrip("/") + "/data/v0"
        df.withColumn(BUCKET_COL, bucket_of(F.col(key), n_buckets)).write.mode(
            "overwrite"
        ).partitionBy(BUCKET_COL).parquet(data)
        written = sorted(written_buckets(spark, data))
        log["buckets"] = {str(b): 0 for b in written}
    return 0


def _bucket_dirs(path: str, log: dict, buckets: list[int] | None = None) -> list[str]:
    """Directories owning the given buckets (all buckets when None) as of
    `log` — resolved purely from the commit log, never by listing data.

    A SHALLOW CLONE's log carries ``base``/``base_watermark``: buckets
    owned by a commit ≤ the watermark still live under the base table's
    data tree (zero-copy inheritance); commits above it are the clone's
    own writes under its own path."""
    base = log.get("base")
    wm = log.get("base_watermark", -1)

    def root(commit: int) -> str:
        if base is not None and commit <= wm:
            return base
        return path.rstrip("/")

    items = sorted(log["buckets"].items(), key=lambda kv: int(kv[0]))
    if buckets is not None:
        want = {str(b) for b in buckets}
        items = [kv for kv in items if kv[0] in want]
    return [
        f"{root(int(commit))}/data/v{commit}/{BUCKET_COL}={b}"
        for b, commit in items
    ]


def read_version(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Time travel: the table as of `version` (latest when None).
    Resolves at most n_buckets directories from the commit log."""
    log = read_log(spark, path, version)
    dirs = _bucket_dirs(path, log)
    if not dirs:
        raise FileNotFoundError(f"version {log['version']} has no data")
    return spark.read.parquet(*dirs)


def merge_versioned(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    tombstone_col: str | None = None,
) -> int:
    """MERGE `changes` into the latest version, committing version n+1.
    Only impacted buckets get new directories; every other bucket entry
    carries over, so old versions remain readable and byte-stable."""
    log = read_log(spark, path)
    key, n_buckets = log["key"], log["n_buckets"]
    # shallow clones stay clones: base/base_watermark carry over
    new_log = dict(
        log, version=log["version"] + 1, buckets=dict(log["buckets"])
    )
    # claim the version BEFORE any data write: a concurrent merge that
    # computed the same version fails here instead of overwriting this
    # writer's data/v{n} directories (ADVICE r5)
    with versioned_commit(spark, path, new_log):
        # materialize the changeset ONCE (O(changeset) rows): it is
        # consumed by the impacted-bucket collect, the anti-join key set
        # AND the merged write, and its lineage may be arbitrarily
        # expensive (e.g. a filter over read_version of this very table)
        # — without this every consumer re-ran it (r13).
        ch = materialize(
            changes.withColumn(BUCKET_COL, bucket_of(F.col(key), n_buckets))
        )
        impacted = sorted(
            int(r[0]) for r in ch.select(BUCKET_COL).distinct().collect()
        )
        live = [b for b in impacted if str(b) in log["buckets"]]
        # read ONLY the impacted buckets' directories, resolved from the
        # log — reading the whole version and row-filtering would scan
        # O(table) per merge (leaf-dir reads carry no partition column to
        # prune on)
        live_dirs = _bucket_dirs(path, log, live)
        merged = _upserts(ch, tombstone_col)
        if live_dirs:
            survivors = (
                spark.read.parquet(*live_dirs)
                .withColumn(BUCKET_COL, bucket_of(F.col(key), n_buckets))
                .join(ch.select(key).distinct(), on=key, how="left_anti")
            )
            merged = survivors.unionByName(merged.select(*survivors.columns))
        data = f"{path.rstrip('/')}/data/v{new_log['version']}"
        merged.withColumn(
            BUCKET_COL, F.col(BUCKET_COL).cast("int")
        ).write.mode("overwrite").partitionBy(BUCKET_COL).parquet(data)

        # an all-deletes commit writes an EMPTY directory, which parquet
        # cannot re-read for schema — the listing sees no bucket there
        written = written_buckets(spark, data)
        for b in impacted:
            if b in written:
                new_log["buckets"][str(b)] = new_log["version"]
            else:  # bucket fully deleted this commit
                new_log["buckets"].pop(str(b), None)
    return new_log["version"]


def vacuum_versioned(spark: SparkSession, path: str, retain_from: int) -> dict:
    """Drop every bucket directory no retained snapshot references and
    the commit-log entries of expired versions — Delta's VACUUM +
    log-retention rolled into one, sized to this table's log layout.

    Retained snapshots are versions ``retain_from..latest``.  The keep
    set is (owning commit, bucket) pairs unioned over THEIR logs — a
    retained snapshot may reference directories written by an expired
    commit (untouched buckets carry over), so liveness is per directory,
    never per commit.  Everything else under data/ is deleted, as are
    the ``_log/v*.json`` files below ``retain_from`` (time travel to an
    expired version then raises, same as the never-existed case) —
    except the directories of commits above ``latest``: those belong to
    a writer that holds its claim and has not published yet, or to a
    crashed one, whose version's next claimant overwrites them.

    Cost is bounded metadata: (versions retained) log reads plus one
    directory listing per commit dir — no data files are opened.  100 TB:
    this is the storage-reclaim half of the COW design; without it the
    table grows by O(impacted buckets) per commit forever.

    Returns {"deleted_dirs", "retained_dirs", "deleted_logs",
    "retain_from", "latest"}."""
    fs, Path = filesystem(spark, path)
    # a shallow clone's history starts at its watermark, not 0 — its
    # earliest log IS its creation entry, and retaining below it would
    # try to read logs that never existed here
    versions = log_versions(spark, path)
    if not versions:
        raise FileNotFoundError(f"no commits under {path}")
    earliest, latest = versions[0], versions[-1]
    if not earliest <= retain_from <= latest:
        raise ValueError(
            f"retain_from={retain_from} outside committed range "
            f"{earliest}..{latest}"
            + (
                " (shallow clone: history starts at its watermark)"
                if earliest > 0
                else ""
            )
        )

    keep: set[tuple[int, int]] = set()
    for v in range(retain_from, latest + 1):
        log = read_log(spark, path, v)
        keep.update(
            (int(commit), int(b)) for b, commit in log["buckets"].items()
        )

    data_root = Path(path.rstrip("/") + "/data")
    deleted = retained = 0
    # a fresh shallow clone owns no data dirs yet — nothing to reclaim
    commit_dirs = fs.listStatus(data_root) if fs.exists(data_root) else []
    for commit_st in commit_dirs:
        name = commit_st.getPath().getName()
        if not (commit_st.isDirectory() and name.startswith("v")):
            continue
        commit = int(name[1:])
        if commit > latest:
            continue
        live_left = False
        # _SUCCESS etc. are removed with the commit dir
        for b in written_buckets(spark, commit_st.getPath().toString()):
            if (commit, b) in keep:
                live_left = True
                retained += 1
                continue
            leaf = Path(commit_st.getPath(), f"{BUCKET_COL}={b}")
            if not fs.delete(leaf, True):
                raise IOError(f"vacuum: could not delete {leaf}")
            deleted += 1
        if not live_left and not fs.delete(commit_st.getPath(), True):
            raise IOError(f"vacuum: could not delete {commit_st.getPath()}")

    expired = [v for v in versions if v < retain_from]
    for v in expired:
        p = Path(f"{log_dir(path)}/v{v}.json")
        if not fs.delete(p, False):
            raise IOError(f"vacuum: could not delete {p}")
    return {
        "deleted_dirs": deleted,
        "retained_dirs": retained,
        "deleted_logs": len(expired),
        "retain_from": retain_from,
        "latest": latest,
    }


def _cdf_inputs(
    spark: SparkSession, path: str, v_from: int, v_to: int
) -> tuple[list[str], list[str], str]:
    """(old dirs, new dirs, key) for the version diff — ONLY buckets whose
    owning commit differs between the two logs.  A bucket with the same
    owner in both versions points at the same immutable directory, so it
    cannot contain a change and is never read (the pruning that makes
    CDF O(changed data), not O(table))."""
    log_a = read_log(spark, path, v_from)
    log_b = read_log(spark, path, v_to)
    ba, bb = log_a["buckets"], log_b["buckets"]
    diff = sorted(
        int(b) for b in set(ba) | set(bb) if ba.get(b) != bb.get(b)
    )
    dirs_a = _bucket_dirs(path, log_a, [b for b in diff if str(b) in ba])
    dirs_b = _bucket_dirs(path, log_b, [b for b in diff if str(b) in bb])
    return dirs_a, dirs_b, log_a["key"]


def change_data_feed(
    spark: SparkSession, path: str, v_from: int, v_to: int
) -> DataFrame:
    """Delta-style Change Data Feed between two committed versions:
    row-level (key, change_type, old struct, new struct) where
    change_type ∈ insert/delete/update — derived from STORAGE, not from
    the changesets that produced it, so it also audits the commit path.

    Reads only differing buckets (see :func:`_cdf_inputs`), full-outer
    joins old vs new on the table key within them, and classifies by
    struct equality: survivors of a rewritten bucket compare identical
    and drop out as unchanged.  100 TB: cost is O(rewritten buckets) for
    the scan plus one key-shuffle of just those rows — the primitive
    that feeds incremental downstream maintenance (xs5's rollup merge
    consumes exactly this shape)."""
    dirs_a, dirs_b, key = _cdf_inputs(spark, path, v_from, v_to)

    def _side(dirs: list[str], alias: str) -> DataFrame | None:
        if not dirs:
            return None
        df = spark.read.parquet(*dirs)
        payload = [c for c in df.columns if c != key]
        return df.select(key, F.struct(*payload).alias(alias))

    old, new = _side(dirs_a, "old"), _side(dirs_b, "new")
    if old is None and new is None:
        raise ValueError("versions are identical: no differing buckets")
    # an absent side must still be a TYPED empty frame — a NullType
    # literal would break the feed's schema contract (consumers read
    # struct fields; NullType is unwritable to parquet)
    if old is None:
        schema = T.StructType(
            [new.schema[0], T.StructField("old", new.schema[1].dataType)]
        )
        old = spark.createDataFrame([], schema)
    if new is None:
        schema = T.StructType(
            [old.schema[0], T.StructField("new", old.schema[1].dataType)]
        )
        new = spark.createDataFrame([], schema)
    j = old.join(new, on=key, how="full_outer")
    return j.select(
        key,
        F.when(F.col("old").isNull(), F.lit("insert"))
        .when(F.col("new").isNull(), F.lit("delete"))
        .when(
            ~F.col("old").eqNullSafe(F.col("new")), F.lit("update")
        )  # null-safe: a NULL payload field must not fake an update
        .alias("change_type"),
        "old",
        "new",
    ).filter(F.col("change_type").isNotNull())


def shallow_clone(spark: SparkSession, src_path: str, dst_path: str) -> int:
    """Zero-copy clone of the versioned table's LATEST snapshot: writes a
    single commit-log entry at ``dst_path`` that references the source's
    data directories (``base`` + ``base_watermark``) — no data moves.
    The clone's version counter starts AT the source's latest version,
    so its own commits (watermark+1, …) can never collide with inherited
    commit ids; merges on the clone write under the clone's data tree
    and the source stays byte-stable (tests pin this).

    Semantics and caveat match Delta's shallow CLONE: O(1) metadata to
    fork a 100 TB table for experiments/backfills, reads served from
    shared files — and vacuuming the SOURCE below the clone's watermark
    breaks the clone (the clone's own vacuum only ever lists its own
    data tree, so it cannot damage the source).  Returns the clone's
    starting version."""
    log = read_log(spark, src_path)
    version = log["version"]
    base = log.get("base", src_path.rstrip("/"))
    clone_log = {
        "version": version,
        "key": log["key"],
        "n_buckets": log["n_buckets"],
        "buckets": dict(log["buckets"]),
        "base": base,
        # a clone of a clone keeps the ORIGINAL base for inherited
        # buckets, but its watermark moves up to cover the middle
        # clone's own commits too — which also live under `base` only if
        # that middle clone never merged; to stay correct we refuse the
        # chain when the middle clone diverged.
        "base_watermark": version,
    }
    if "base" in log:
        mid_wm = log.get("base_watermark", -1)
        if any(int(c) > mid_wm for c in log["buckets"].values()):
            raise ValueError(
                "cannot shallow-clone a clone that has diverged from its "
                "base — materialize it first (read latest + create_versioned)"
            )
    with versioned_commit(spark, dst_path, clone_log):
        pass  # no data moves: the log entry is the whole clone
    return version
