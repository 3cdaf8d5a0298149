"""Scale-operations queries (round 4): Z-order clustering keys, key-skew
profiling, and compacted-write round-trips.

These are 100 TB *operational* tools rather than analytics: the Morton key
drives multi-dimensional data skipping at the parquet row-group level, the
skew profile picks the salting strategy before a big shuffle, and the
compaction round-trip proves the target-file-size writer preserves content
exactly.  Each is oracle-paired so the driver's correctness gate covers
them like any analytic operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.zorder import _INPUT_MASK, _SPREAD, zorder_key_epoch_day
from ..registry import register
from ..session import materialize, scoped_conf
from ..sources.tables import table


def _scratch_dir(op: str, sf_dir: str) -> str:
    """Deterministic per-(op, sf_dir, process) scratch path, REUSED (and
    overwritten) across invocations — bench/parity/gate run each query
    repeatedly, and per-call mkdtemp would fill the disk monotonically.
    The PID in the key isolates concurrent runs (e.g. bench and parity on
    the same sf_dir) from overwriting each other's directory mid-read;
    within one process reruns still reuse one directory."""
    import hashlib
    import os
    import tempfile

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    d = os.path.join(
        tempfile.gettempdir(), f"spark_graft_{op}_{key}_p{os.getpid()}"
    )
    os.makedirs(d, exist_ok=True)
    return d


def _spread_sql(var: str) -> str:
    """DuckDB expression mirroring operators.zorder.spread_bits: the same
    input mask + five mask/shift rounds, masks inlined as decimal literals
    from the shared constants (single source of truth for both engines)."""
    expr = f"({var} & {_INPUT_MASK})"
    for shift, mask in _SPREAD:
        expr = f"(({expr} | ({expr} << {shift})) & {mask})"
    return expr


@register(
    "xs1_zorder_key_orders",
    f"""
    SELECT o_orderkey,
           ({_spread_sql('a')} | ({_spread_sql('b')} << 1)) AS zkey
    FROM (SELECT o_orderkey,
                 CAST(o_custkey AS BIGINT) AS a,
                 CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS b
          FROM orders)
    ORDER BY zkey DESC, o_orderkey
    LIMIT 10
    """,
)
def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit Morton key over (o_custkey, days-since-epoch of
    o_orderdate): pure shift/mask Catalyst expressions (whole-stage
    codegen), top-10 via sort+limit → TakeOrderedAndProject (no global
    sort).  The same key drives cluster_by_zorder's data-skipping write."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            zorder_key_epoch_day(
                F.col("o_custkey"), F.col("o_orderdate")
            ).alias("zkey"),
        )
        .orderBy(F.col("zkey").desc(), "o_orderkey")
        .limit(10)
    )


@register(
    "xs2_key_skew_profile",
    """
    WITH counts AS (
      SELECT user_id AS key_value, COUNT(*) AS n_rows
      FROM events GROUP BY 1),
    stats AS (
      SELECT SUM(n_rows) AS total_rows, COUNT(*) AS n_keys,
             MAX(n_rows) AS max_rows
      FROM counts),
    top AS (
      SELECT key_value, n_rows,
             CAST(ROW_NUMBER() OVER (ORDER BY n_rows DESC, key_value) AS BIGINT)
               AS rank
      FROM counts ORDER BY n_rows DESC, key_value LIMIT 10)
    SELECT key_value, n_rows,
           CAST((n_rows * 1000000) // total_rows AS BIGINT) AS share_ppm,
           CAST((max_rows * 1000 * n_keys) // total_rows AS BIGINT)
             AS skew_ratio_x1000,
           rank
    FROM top, stats
    """,
)
def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter profile of events.user_id: per-key counts with
    map-side combine, top-10 via TakeOrderedAndProject, single stats row
    broadcast back, with share/skew expressed in exact integer ppm / x1000
    (`div`) so the oracle compare is bit-exact with no float rounding.
    skew_ratio = heaviest key / mean rows-per-key estimates the straggler
    factor an unsalted shuffle on this key would suffer."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy(F.col("user_id").alias("key_value")).agg(
        F.count("*").alias("n_rows")
    )
    stats = counts.agg(
        F.sum("n_rows").alias("total_rows"),
        F.count("*").alias("n_keys"),
        F.max("n_rows").alias("max_rows"),
    )
    w = Window.orderBy(F.col("n_rows").desc(), F.col("key_value"))
    top = (
        counts.orderBy(F.col("n_rows").desc(), F.col("key_value"))
        .limit(10)
        .withColumn("rank", F.row_number().over(w).cast("long"))
    )
    return top.join(F.broadcast(stats)).select(
        "key_value",
        "n_rows",
        F.expr("(n_rows * 1000000) div total_rows").alias("share_ppm"),
        F.expr("(max_rows * 1000 * n_keys) div total_rows").alias(
            "skew_ratio_x1000"
        ),
        "rank",
    )


@register(
    "xs3_compaction_roundtrip",
    """
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(text)) AS n_distinct_md5,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM documents
    """,
)
def q_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compacted-write round-trip: documents → target-file-size parquet →
    re-read; the aggregate (count + distinct content hash + char mass)
    matches the source exactly iff the rewrite preserved every row.  The
    writer sizes output from Catalyst's plan statistics — no count job."""
    from ..sources.compaction import write_compacted

    docs = table(spark, sf_dir, "documents")
    out = _scratch_dir("compact", sf_dir) + "/docs"
    write_compacted(docs, out, target_file_mb=64)
    back = spark.read.parquet(out)
    return back.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_distinct_md5"),
        F.sum(F.length("text")).alias("total_chars"),
    )


@register(
    "xs4_zorder_pruned_scan",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 299
      AND CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
    """,
)
def q_zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end data-skipping pipeline: Z-order-cluster orders on
    (custkey, epoch-day), write 8 bucket DIRECTORIES (partitioned by the
    curve bucket id), build a per-bucket min/max manifest (one
    aggregation, rows == buckets), prune buckets relationally for a 2-D
    predicate, and read via a broadcast semi-join that Dynamic Partition
    Pruning turns into a PartitionFilter — no driver-side file list
    anywhere.  The aggregate matches a plain filtered scan of the source
    exactly (pruning is a superset guarantee); the bucket-skip ratio and
    the DPP plan shape are asserted in tests/test_scale_ops.py."""
    from ..sources.file_pruning import (
        build_bucket_manifest,
        pruned_read,
        write_zorder_partitioned,
    )

    # 1996 in days-since-epoch (computed constants; no Date.now anywhere)
    LO_D, HI_D = 9496, 9861

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("d_epoch"),
    )
    out = _scratch_dir("zorder", sf_dir) + "/orders_z"
    write_zorder_partitioned(orders, "o_custkey", "d_epoch", 8, out)

    manifest = build_bucket_manifest(spark, out, ["o_custkey", "d_epoch"])
    pruned, _stats = pruned_read(
        spark,
        out,
        manifest,
        {"o_custkey": (100, 299), "d_epoch": (LO_D, HI_D)},
    )
    from ..functions.aggs import sum_exact

    return pruned.agg(
        F.count("*").alias("n_rows"),
        sum_exact("o_totalprice", scale=6).alias("sum_price"),
    )




# Shared xs6/xs8 changeset: updates (key%37: price+1000), deletes (key%41
# minus the update overlap), inserts (key%53 minus both overlaps, re-keyed
# +1e9, status 'N').  ONE definition on each side — the Spark builder and
# the SQL CTE fragments below — so the two merge queries and their oracles
# can never drift apart.
_CHG_CTE = """    chg AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 37 = 0 THEN 'update'
                    WHEN o_orderkey % 41 = 0 THEN 'delete'
                    ELSE 'insert' END AS kind,
               o_orderstatus, o_totalprice
        FROM orders
        WHERE o_orderkey % 37 = 0 OR o_orderkey % 41 = 0 OR o_orderkey % 53 = 0),"""

_MERGED_SELECT = """        SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice
        FROM orders o
        WHERE o.o_orderkey NOT IN (SELECT o_orderkey FROM chg WHERE kind IN ('update', 'delete'))
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice + 1000 FROM chg WHERE kind = 'update'
        UNION ALL
        SELECT o_orderkey + 1000000000, 'N', o_totalprice FROM chg WHERE kind = 'insert'"""


def _xs_changeset(orders: DataFrame) -> DataFrame:
    """The keyed changeset (update/delete/insert + __dead tombstone flag)
    both COW merge queries apply — Spark twin of _CHG_CTE."""
    k = F.col("o_orderkey")
    upd = orders.filter(k % 37 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000
    )
    dele = orders.filter((k % 41 == 0) & (k % 37 != 0))
    ins = orders.filter((k % 53 == 0) & (k % 37 != 0) & (k % 41 != 0)).select(
        (k + 1000000000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
    )
    return (
        upd.withColumn("__dead", F.lit(False))
        .unionByName(dele.withColumn("__dead", F.lit(True)))
        .unionByName(ins.withColumn("__dead", F.lit(False)))
    )


def _build_orders_versioned(
    spark: SparkSession, sf_dir: str, path: str, merge_changeset: bool = True
) -> DataFrame:
    """THE one definition of the versioned orders table every versioned
    query builds from: fresh v0 commit of (key, status, price), plus the
    xs changeset as v1 when requested.  Single site so the private
    tables (xs6 merge, xs10 vacuum, xs14 clone) can never drift from the
    shared one the oracles assume.  Returns the source orders frame."""
    import shutil

    from ..operators.merge_cow import create_versioned, merge_versioned

    shutil.rmtree(path, ignore_errors=True)  # commit log must start at v0
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    create_versioned(spark, path, orders, "o_orderkey", 16)
    if merge_changeset:
        merge_versioned(
            spark, path, _xs_changeset(orders), tombstone_col="__dead"
        )
    return orders


def _shared_versioned(spark: SparkSession, sf_dir: str) -> str:
    """The (v0 = raw orders, v1 = xs-changeset MERGE) versioned table the
    READ-ONLY consumers share (xs8 time travel, xs12 CDF, xs13 MV
    refresh): its content is deterministic, none of them ever commits to
    it, and rebuilding the same two commits inside every query was the
    dominant cost of the versioned family in a bench sweep.  Built once
    per (sf_dir, process), reused when the log already shows v1.
    xs6 (which times its own write and merge) and the mutating ops
    (xs10 vacuum, xs14 clone) keep private tables."""
    from ..sources.commit import read_log

    path = _scratch_dir("vshared", sf_dir) + "/orders_v"
    try:
        if read_log(spark, path)["version"] == 1:
            return path
    except FileNotFoundError:
        pass
    _build_orders_versioned(spark, sf_dir, path)
    return path


@register(
    "xs6_merge_cow_state",
    f"""
    WITH
{_CHG_CTE}
    state AS (
{_MERGED_SELECT})
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price
    FROM state GROUP BY o_orderstatus
    """,
)
def merge_cow_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE round-trip: commit orders as v0 of a
    16-bucket versioned table, MERGE one keyed changeset containing
    updates (key % 37 = 0: price + 1000), deletes (key % 41 = 0, minus
    the update overlap), and inserts (key % 53 = 0 minus both overlaps,
    re-keyed + 1e9, status 'N') as v1, then read the committed table back
    and aggregate its state per status.

    The oracle computes the identical post-MERGE state relationally from
    the source — so the parity check covers the whole write-merge-commit
    pipeline, not just the merge expression.  The table is private to
    this query (not the one xs8/xs12/xs13 share), so every call writes
    and merges.  Only impacted buckets get new directories under
    ``data/v1``; untouched buckets keep their v0 files — asserted in
    tests/test_merge_cow.py.  100 TB: rewrite cost is O(impacted
    buckets) like Delta's COW MERGE; see operators/merge_cow.py."""
    from ..functions.aggs import sum_exact
    from ..operators.merge_cow import read_version

    path = _scratch_dir("mergecow", sf_dir) + "/orders_v"
    _build_orders_versioned(spark, sf_dir, path)

    return (
        read_version(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            sum_exact("o_totalprice", scale=6).alias("total_price"),
        )
    )


@register(
    "xs7_bloom_point_lookup",
    """
    SELECT o_orderkey,
           substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS mes,
           o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 7919 = 0
    """,
)
def bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-index point lookup: orders laid out by month (a dimension
    point lookups do NOT filter on), a per-month Bloom bit-position
    index built over o_orderkey, then a key-set lookup that reads only
    the months whose bloom admits a key — the Iceberg/Delta bloom-index
    pattern on plain parquet.

    The oracle is the plain relational lookup, so parity proves the
    pruned read is exactly lossless (superset pruning + exact residual
    semi-join).  The pruning RATIO (months read << months total) is
    asserted in tests/test_scale_ops.py — at sf0.01 the key set touches
    a handful of months out of ~80.  100 TB: index size is
    O(partitions x m) independent of row count; see
    sources/file_pruning.py::bloom_pruned_lookup.

    The month layout and the bloom table are AT-REST artifacts — in
    production they are maintained at write time, not rebuilt per query
    — so both are built once per (sf_dir, process) and reused
    (deterministic content); the index is materialized to parquet next
    to the data, as its docstring prescribes.  What reruns measure is
    the lookup path: index probe → pruned read → residual semi-join
    (4.7 s → ~1 s at sf0.1)."""
    import os

    from ..sources.file_pruning import (
        bloom_pruned_lookup,
        build_bloom_index,
    )

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.substring(F.col("o_orderdate").cast("string"), 1, 7).alias("mes"),
        "o_orderstatus",
        "o_totalprice",
    )
    base = _scratch_dir("bloomidx", sf_dir)
    path, idx_path = base + "/orders_m", base + "/orders_m_bloom"
    if not (
        os.path.exists(os.path.join(path, "_SUCCESS"))
        and os.path.exists(os.path.join(idx_path, "_SUCCESS"))
    ):
        # cluster by the partition column before the 80-directory write:
        # one task per directory instead of every task touching every
        # directory (measured 4.1s -> 2.5s at sf0.1, same file count)
        orders.repartition("mes").write.mode("overwrite").partitionBy(
            "mes"
        ).parquet(path)
        build_bloom_index(spark, path, "mes", "o_orderkey").write.mode(
            "overwrite"
        ).parquet(idx_path)
        spark.catalog.refreshByPath(path)
        spark.catalog.refreshByPath(idx_path)

    index = spark.read.parquet(idx_path)
    keys = orders.filter(F.col("o_orderkey") % 7919 == 0).select("o_orderkey")
    hit, _stats = bloom_pruned_lookup(
        spark, path, index, "mes", "o_orderkey", keys, with_stats=False
    )
    return hit.select("o_orderkey", "mes", "o_orderstatus", "o_totalprice")


@register(
    "xs8_time_travel_states",
    f"""
    WITH
{_CHG_CTE}
    v1 AS (
{_MERGED_SELECT}),
    states AS (
        SELECT 0 AS version, o_orderstatus, o_totalprice FROM orders
        UNION ALL
        SELECT 1 AS version, o_orderstatus, o_totalprice FROM v1)
    SELECT CAST(version AS INTEGER) AS version, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price
    FROM states GROUP BY version, o_orderstatus
    """,
)
def time_travel_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned COW commits + time travel: commit orders as v0 of a
    log-tracked bucketed table, MERGE the xs6 changeset as v1, then read
    BOTH versions back through the commit log and aggregate each state.

    The oracle recomputes v0 (the raw table) and v1 (the relational
    MERGE) — parity proves old snapshots stay intact after a commit AND
    the new snapshot is exactly the merged state, through the actual
    file layout.  100 TB: a commit writes O(impacted buckets), time
    travel reads one small JSON + at most n_buckets directories; see
    operators/merge_cow.py (versioned section).  The committed table is
    the shared (v0, v1) build (_shared_versioned) — this query only
    READS it."""
    from ..functions.aggs import sum_exact
    from ..operators.merge_cow import read_version

    path = _shared_versioned(spark, sf_dir)

    states = None
    for v in (0, 1):
        s = read_version(spark, path, v).withColumn("version", F.lit(v))
        states = s if states is None else states.unionByName(s)
    return states.groupBy("version", "o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        sum_exact("o_totalprice", scale=6).alias("total_price"),
    )


@register(
    "xs10_vacuum_latest_state",
    f"""
    WITH
{_CHG_CTE}
    state1 AS (
{_MERGED_SELECT}),
    state AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 500
                    ELSE o_totalprice END AS o_totalprice
        FROM state1)
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price
    FROM state GROUP BY o_orderstatus
    """,
)
def vacuum_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-reclaim round-trip: commit orders as v0, MERGE the xs6
    changeset (v1), MERGE a second broad update (+500 on key % 97 = 0,
    v2), VACUUM everything but v2, then aggregate the surviving
    snapshot.  The oracle recomputes both merges relationally — parity
    proves vacuum deleted ONLY dead directories (a carried-over bucket
    written by an expired commit must survive; the per-(commit, bucket)
    liveness rule in operators/merge_cow.py::vacuum_versioned).

    100 TB: vacuum is bounded metadata (log reads + one listing per
    commit dir, no data files opened) — the reclaim half that keeps the
    O(impacted buckets)-per-commit storage growth of the COW design
    finite.  Expired-version reads raise afterwards
    (tests/test_merge_cow.py pins file-level behavior)."""
    from ..functions.aggs import sum_exact
    from ..operators.merge_cow import (
        merge_versioned,
        read_version,
        vacuum_versioned,
    )

    path = _scratch_dir("vacuum", sf_dir) + "/orders_v"
    _build_orders_versioned(spark, sf_dir, path)

    latest = read_version(spark, path)
    touch = latest.filter(F.col("o_orderkey") % 97 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 500
    )
    merge_versioned(
        spark, path, touch.withColumn("__dead", F.lit(False)), tombstone_col="__dead"
    )
    vacuum_versioned(spark, path, retain_from=2)

    return (
        read_version(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            sum_exact("o_totalprice", scale=6).alias("total_price"),
        )
    )


_N_BUCKETS_XS9 = 8


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """orders + lineitem materialized as Spark BUCKETED tables (catalog
    metadata, not ad-hoc directories): same bucket count, bucketed AND
    sorted on the join key, one file per bucket (the repartition before
    the write aligns write tasks with buckets — Spark's repartition hash
    IS the bucketing hash).  Idempotent per (session, sf_dir)."""
    import hashlib
    import os

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = _scratch_dir("bucketed", sf_dir)
    specs = (
        ("orders", "o_orderkey", ["o_orderkey", "o_orderstatus", "o_orderpriority"]),
        ("lineitem", "l_orderkey", ["l_orderkey", "l_extendedprice"]),
    )
    names = []
    for tbl, key, cols in specs:
        name = f"bkt_{tbl}_{tag}"
        if not spark.catalog.tableExists(name):
            (
                table(spark, sf_dir, tbl)
                .select(*cols)
                .repartition(_N_BUCKETS_XS9, F.col(key))
                .write.mode("overwrite")
                .format("parquet")
                .bucketBy(_N_BUCKETS_XS9, key)
                .sortBy(key)
                .option("path", os.path.join(base, name))
                .saveAsTable(name)
            )
        names.append(name)
    return names[0], names[1]


def _bucketed_join_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.aggs import sum_exact

    n_orders, n_lineitem = _bucketed_tables(spark, sf_dir)
    o = spark.table(n_orders).filter(F.col("o_orderstatus") == "F")
    li = spark.table(n_lineitem)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            sum_exact("l_extendedprice", scale=6).alias("revenue"),
        )
    )


@register(
    "xs9_bucketed_join_colocated",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact-fact join via Spark bucketed tables: both sides
    written `bucketBy(8, orderkey).sortBy(orderkey)` with one file per
    bucket, so the orders ⋈ lineitem sort-merge join needs NO exchange
    on either side — bucket i joins bucket i straight off the scans
    (tests/test_plan_quality.py pins zero Exchange below the join and
    `Bucketed: true` on both scans).  Spark 4 no longer propagates
    bucket-file sort order into outputOrdering, so a per-bucket Sort
    remains — but that sort runs over an already-sorted single file and
    never spills a shuffle; the expensive node (the orderkey Exchange of
    both fact tables) is gone.  The only shuffle left is the 5-group
    final aggregate.

    This is THE 100 TB strategy for repeated big-big joins: pay the
    bucketed write once, then every orderkey join is shuffle-free —
    exactly what a fact table keyed for a training pipeline should look
    like at rest.  Oracle: the plain relational join."""
    return _bucketed_join_plan(spark, sf_dir)


@register(
    "xs11_write_audit_publish",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def write_audit_publish_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish round-trip: publish orders through the WAP
    gate (audits: unique key, non-null key, non-negative price — ONE
    aggregate pass over the written files), then attempt a SECOND
    publish whose changeset carries injected duplicate keys — it must
    fail the audit, publish no log entry, and leave the first publish
    live.  The returned aggregate reads the latest published version;
    the oracle aggregates the clean source — parity therefore proves
    both halves: the good publish was lossless AND the bad one never
    reached readers.

    100 TB: auditing the written files costs one scan of the new data
    only; auditing after publish serves violations to every reader in
    the rollback window.  sources/wap.py; refusal path also pinned in
    tests/test_wap.py."""
    import shutil

    from ..functions.aggs import sum_exact
    from ..operators.merge_cow import read_version
    from ..sources.wap import (
        AuditError,
        duplicate_keys,
        row_violations,
        write_audit_publish,
    )

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    audits = [
        ("dup_orderkey", duplicate_keys("o_orderkey")),
        ("null_orderkey", row_violations(F.col("o_orderkey").isNull())),
        ("negative_price", row_violations(F.col("o_totalprice") < 0)),
    ]
    path = _scratch_dir("wap", sf_dir) + "/orders_pub"
    # the scratch path is reused: restart at v0 rather than add a version
    shutil.rmtree(path, ignore_errors=True)
    ok = write_audit_publish(spark, orders, path, audits)
    assert not any(ok.values())

    bad = orders.unionByName(orders.filter(F.col("o_orderkey") % 1009 == 0))
    try:
        write_audit_publish(spark, bad, path, audits)
        raise AssertionError("duplicate-key publish must fail the audit")
    except AuditError:
        pass  # nothing published, first publish still live

    return (
        read_version(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            sum_exact("o_totalprice", scale=6).alias("total_price"),
        )
    )


@register(
    "xs12_change_data_feed",
    f"""
    WITH
{_CHG_CTE}
    cdf AS (
        SELECT CASE kind WHEN 'update' THEN CAST(1000 AS DECIMAL(38,6))
                         WHEN 'delete' THEN -CAST(o_totalprice AS DECIMAL(38,6))
                         ELSE CAST(o_totalprice AS DECIMAL(38,6)) END AS delta,
               kind AS change_type
        FROM chg)
    SELECT change_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(delta) AS DOUBLE) AS price_delta
    FROM cdf GROUP BY change_type
    """,
)
def change_data_feed_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change Data Feed round-trip: commit orders as v0, MERGE the xs6
    changeset (v1), then derive the row-level diff FROM STORAGE
    (operators/merge_cow.py::change_data_feed — reads only buckets whose
    owning commit differs, full-outer join within them, null-safe struct
    compare) and aggregate per change_type with the exact price delta.

    The oracle classifies the changeset relationally — parity therefore
    proves the storage-derived feed recovers exactly the applied
    changes: survivors of rewritten buckets drop out as unchanged,
    deletes surface with their full old row, updates carry old AND new.
    100 TB: CDF cost is O(rewritten buckets), never O(table) — the
    bucket-diff pruning is pinned in tests/test_merge_cow.py.  Reads the
    shared (v0, v1) build (_shared_versioned)."""
    from ..functions.aggs import sum_exact
    from ..operators.merge_cow import change_data_feed

    feed = change_data_feed(spark, _shared_versioned(spark, sf_dir), 0, 1)
    delta = F.coalesce(
        F.col("new.o_totalprice").cast("decimal(38,6)"), F.lit(0)
    ) - F.coalesce(F.col("old.o_totalprice").cast("decimal(38,6)"), F.lit(0))
    return feed.groupBy("change_type").agg(
        F.count("*").alias("n_rows"),
        sum_exact(delta, scale=6).alias("price_delta"),
    )


@register(
    "xs13_mv_incremental_refresh",
    f"""
    WITH
{_CHG_CTE}
    state AS (
{_MERGED_SELECT})
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price
    FROM state GROUP BY o_orderstatus
    """,
)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance from the Change Data Feed: compute
    the per-status (count, exact-decimal sum) MV at v0, commit the xs6
    changeset as v1, then refresh the MV using ONLY the CDF deltas —
    inserts +1/+price, deletes -1/-price, updates ±(new-old) — never
    re-reading v1.  Groups whose count reaches zero drop out (the 'P'
    status can vanish at tiny SFs).  The oracle aggregates the fully
    recomputed v1 state, so parity proves delta-refresh == recompute
    through real storage, updates and deletes included — the half the
    append-only xs5 rollup merge cannot express.

    100 TB: refresh cost is O(changed rows) (the CDF's bucket-diff
    bound) + a |groups|-sized merge join — the standard argument for
    maintaining aggregates off a change feed instead of recomputing a
    100 TB table."""
    from ..operators.merge_cow import change_data_feed, read_version

    path = _shared_versioned(spark, sf_dir)
    dec = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    # the MV's base state is the v0 SNAPSHOT (time travel), so the whole
    # query runs off the shared committed table
    mv0 = (
        read_version(spark, path, 0)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(dec(F.col("o_totalprice"))).alias("sum_price"),
        )
    )
    feed = change_data_feed(spark, path, 0, 1)

    # per-status deltas from the feed: status of a row is old's for
    # deletes, new's otherwise (updates here never change status)
    status = F.coalesce(
        F.col("new.o_orderstatus"), F.col("old.o_orderstatus")
    )
    n_delta = (
        F.when(F.col("change_type") == "insert", 1)
        .when(F.col("change_type") == "delete", -1)
        .otherwise(0)
    )
    p_delta = F.coalesce(dec(F.col("new.o_totalprice")), F.lit(0)) - F.coalesce(
        dec(F.col("old.o_totalprice")), F.lit(0)
    )
    deltas = feed.groupBy(status.alias("o_orderstatus")).agg(
        F.sum(n_delta).alias("d_n"), F.sum(p_delta).alias("d_price")
    )

    zero = F.lit(0)
    merged = (
        mv0.join(deltas, on="o_orderstatus", how="full_outer")
        .select(
            "o_orderstatus",
            (
                F.coalesce(F.col("n_rows"), zero)
                + F.coalesce(F.col("d_n"), zero)
            ).alias("n_rows"),
            (
                F.coalesce(F.col("sum_price"), dec(zero))
                + F.coalesce(F.col("d_price"), dec(zero))
            ).alias("sum_price"),
        )
        .filter(F.col("n_rows") > 0)
    )
    return merged.select(
        "o_orderstatus",
        "n_rows",
        F.col("sum_price").cast("double").alias("total_price"),
    )


@register(
    "xs14_shallow_clone_divergence",
    f"""
    WITH
{_CHG_CTE}
    merged AS (
{_MERGED_SELECT})
    SELECT 'source' AS branch, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price
    FROM orders GROUP BY o_orderstatus
    UNION ALL
    SELECT 'clone', o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price
    FROM merged GROUP BY o_orderstatus
    """,
)
def shallow_clone_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy table fork: commit orders as a versioned table, SHALLOW
    CLONE it (one JSON log write — no data copied), MERGE the xs6
    changeset into the CLONE, then aggregate both branches.  The oracle
    computes source = raw orders and clone = relational MERGE — parity
    proves the fork semantics end-to-end: the clone serves inherited
    buckets from the source's files, its merge writes only under its own
    tree, and the source is untouched by the clone's divergence
    (byte-stability pinned in tests/test_merge_cow.py).

    100 TB: forking a table for an experiment or backfill is O(1)
    metadata instead of a 100 TB copy — Delta/Iceberg shallow-clone
    semantics on the same commit log that powers time travel, vacuum,
    and CDF (operators/merge_cow.py::shallow_clone)."""
    import shutil

    from ..functions.aggs import sum_exact
    from ..operators.merge_cow import (
        merge_versioned,
        read_version,
        shallow_clone,
    )

    base = _scratch_dir("clone", sf_dir)
    src, dst = base + "/orders_src", base + "/orders_clone"
    shutil.rmtree(dst, ignore_errors=True)
    orders = _build_orders_versioned(
        spark, sf_dir, src, merge_changeset=False
    )
    shallow_clone(spark, src, dst)
    merge_versioned(spark, dst, _xs_changeset(orders), tombstone_col="__dead")

    branches = read_version(spark, src).withColumn(
        "branch", F.lit("source")
    ).unionByName(
        read_version(spark, dst).withColumn("branch", F.lit("clone"))
    )
    return branches.groupBy("branch", "o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        sum_exact("o_totalprice", scale=6).alias("total_price"),
    )


@register(
    "xs15_dynamic_partition_overwrite",
    """
    WITH base AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS month,
               CASE WHEN strftime(o_orderdate, '%Y-%m') = '1995-03'
                    THEN o_totalprice * 1.05 ELSE o_totalprice END AS price
        FROM orders
    )
    SELECT month, COUNT(*) AS n_orders,
           CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE) AS total_price
    FROM base GROUP BY month
    """,
)
def q_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition overwrite: restate ONE month in a
    month-partitioned table without touching the others.

    Load orders partitioned by order month, then write a corrected batch
    for 1995-03 (prices +5%) with
    ``option("partitionOverwriteMode", "dynamic")`` — the writer replaces
    only the partitions present in the incoming frame (Spark's
    INSERT OVERWRITE ... PARTITION semantics on plain parquet; static
    mode would truncate the whole table first).  This is the
    coarse-grained restatement tool between full reload and row-level
    MERGE (xs6): O(restated partition) I/O, no read-modify-write.

    The query re-reads the table and returns per-month (count, exact
    total); the oracle computes the post-restatement state relationally.
    Byte-stability of untouched partitions is pinned in
    tests/test_dynamic_overwrite.py.
    """
    from ..functions.aggs import sum_exact

    orders = table(spark, sf_dir, "orders")
    base = orders.withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    )
    path = _scratch_dir("dpo", sf_dir) + "/orders_by_month"
    base.write.partitionBy("month").mode("overwrite").parquet(path)
    restated = base.where(F.col("month") == "1995-03").withColumn(
        "o_totalprice", F.col("o_totalprice") * 1.05
    )
    (
        restated.write.partitionBy("month")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return back.groupBy("month").agg(
        F.count("*").alias("n_orders"),
        sum_exact("o_totalprice", scale=6).alias("total_price"),
    )


@register(
    "xs16_merge_on_read_state",
    f"""
    WITH
{_CHG_CTE}
    state AS (
{_MERGED_SELECT}),
    agg AS (
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                 AS total_price
        FROM state GROUP BY o_orderstatus)
    SELECT p.phase, a.o_orderstatus, a.n_rows, a.total_price
    FROM agg a CROSS JOIN (VALUES ('mor'), ('compacted')) p(phase)
    """,
)
def merge_on_read_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read round-trip, the deletion-vector twin of xs6's COW
    MERGE: commit orders as the 16-bucket MOR base, apply the SAME xs
    changeset as one O(changeset) commit (deletion vectors + appends —
    no base file rewritten), read the reconciled state, then COMPACT
    every tombstoned bucket and read again.

    Both reads are aggregated per status and labeled ``phase`` — the one
    oracle (the relational post-MERGE state × both phase labels) proves
    (a) the DV-reconciling read path and (b) that compaction is
    content-preserving, in a single parity row.  Storage-level contracts
    (base byte-stability across commits, O(impacted-buckets) write
    shape, vector clearing) are pinned in tests/test_merge_mor.py.
    100 TB: see operators/merge_mor.py — MOR is the write-cheap half of
    the lake surface (GDPR deletes, CDC upserts); compaction bounds the
    read-side amplification."""
    import shutil

    from ..functions.aggs import sum_exact
    from ..operators.merge_mor import (
        compact_mor,
        create_mor,
        read_mor,
        upsert_mor,
    )

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = _scratch_dir("mor", sf_dir) + "/orders_m"
    shutil.rmtree(path, ignore_errors=True)  # mutating op: fresh v0
    create_mor(spark, path, orders, "o_orderkey", 16)
    upsert_mor(spark, path, _xs_changeset(orders), tombstone_col="__dead")

    def _agg(df: DataFrame, phase: str) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count("*").alias("n_rows"),
            sum_exact("o_totalprice", scale=6).alias("total_price"),
        ).select(F.lit(phase).alias("phase"), "*")

    pre = _agg(read_mor(spark, path), "mor")
    compact_mor(spark, path)
    post = _agg(read_mor(spark, path), "compacted")
    return pre.unionByName(post)


def _has_table_stats(spark: SparkSession, t: str, key_col: str) -> bool:
    """True iff the catalog holds COLUMN-level ANALYZE statistics for
    ``t`` (probed on ``key_col``).  The catalog itself is the memo
    (ADVICE r10): a process-level set keyed by table name survives a
    SparkSession rebuild while the in-memory catalog does not, so the
    set said "analyzed" for a table whose stats were gone and the CBO
    reorder silently didn't happen.

    ADVICE r11: the r11 form probed only the table-level 'Statistics'
    row — which a plain ``ANALYZE ... COMPUTE STATISTICS`` (no columns)
    or ``spark.sql.statistics.size.autoUpdate.enabled`` also produces —
    so a table with sizes but no COLUMN stats skipped the FOR ALL
    COLUMNS run and the join-reorder DP (which needs distinct counts/
    min/max) silently lost its inputs.  ``DESCRIBE TABLE EXTENDED t
    col`` reports min/distinct_count as the string 'NULL' until column
    stats exist."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {t} {key_col}").collect()
    stats = {r[0]: r[1] for r in rows}
    return any(
        stats.get(k) not in (None, "NULL") for k in ("distinct_count", "min")
    )


def _cbo_catalog_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str, str]:
    """lineitem/orders (bucketed, reused from the bucketed arms) plus a
    catalog customer dim, all with ANALYZE'd column statistics — the
    precondition for cost-based join reordering.  ANALYZE runs only when
    the catalog lacks statistics for the table (_has_table_stats):
    statistics are a write-time artifact exactly like the bucketing
    itself, and the catalog is the source of truth for their presence."""
    import hashlib
    import os

    from ..sources.bucketed import FACT_KEYS, ensure_bucketed

    # the CANONICAL full-width bucketed facts (r11) — same tables every
    # bucketed arm reads, so ANALYZE stats are computed once per copy
    li_n = ensure_bucketed(
        spark, sf_dir, "lineitem", FACT_KEYS["lineitem"],
        table(spark, sf_dir, "lineitem").columns,
    )
    o_n = ensure_bucketed(
        spark, sf_dir, "orders", FACT_KEYS["orders"],
        table(spark, sf_dir, "orders").columns,
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    c_n = f"cbo_customer_{tag}"
    if not spark.catalog.tableExists(c_n):
        path = os.path.join(_scratch_dir("cbo", sf_dir), c_n)
        (
            table(spark, sf_dir, "customer")
            .select("c_custkey", "c_mktsegment")
            .write.mode("overwrite")
            .option("path", path)
            .saveAsTable(c_n)
        )
    for t, key in ((li_n, "l_orderkey"), (o_n, "o_orderkey"), (c_n, "c_custkey")):
        if not _has_table_stats(spark, t, key):
            spark.sql(f"ANALYZE TABLE {t} COMPUTE STATISTICS FOR ALL COLUMNS")
    return li_n, o_n, c_n


def cbo_reordered_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CBO demonstrator's plan, built INSIDE a cbo-enabled scope so
    the optimizer sees the confs (AQE/optimizer confs are read at
    execution, not build — see session.scoped_conf); the bounded result
    is materialized in-scope, so callers get the
    CBO-planned result regardless of their session confs."""

    li_n, o_n, c_n = _cbo_catalog_tables(spark, sf_dir)
    # Deliberately MIS-ORDERED SQL: the two facts meet first, the
    # selective dim filter joins last.  With column statistics + CBO,
    # Catalyst's join-reorder DP rewrites this to (orders ⋈ customer)
    # ⋈ lineitem — the same shape q3/q5/q7 had to encode BY HAND
    # (their docstrings: "Catalyst won't reorder the fact-fact join
    # below the dim joins without CBO stats").  tests/test_plan_quality
    # pins the reorder on the optimized plan.
    q = f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,2))) AS DOUBLE)
               AS base_revenue
    FROM {li_n} l
    JOIN {o_n} o ON l.l_orderkey = o.o_orderkey
    JOIN {c_n} c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """
    with scoped_conf(
        spark,
        {
            "spark.sql.cbo.enabled": "true",
            "spark.sql.cbo.joinReorder.enabled": "true",
        },
    ):
        return materialize(spark.sql(q))


@register(
    "xs17_cbo_join_reorder",
    """
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,2))) AS DOUBLE)
               AS base_revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def cbo_join_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based join reordering from table statistics — the engine
    feature that makes hand-ordered star joins unnecessary at 100 TB.

    The registered query is written in the WORST order (fact ⋈ fact
    first, selective dim last).  With `ANALYZE TABLE ... FOR ALL
    COLUMNS` statistics on catalog tables and spark.sql.cbo.* on,
    Catalyst reorders it to dim-first — the rewrite q3/q5/q7 apply by
    hand for file-based scans (where only size stats exist).  On a
    production warehouse the stats are maintained at ingest and EVERY
    mis-ordered ad-hoc query gets this for free; here the stats are a
    memoized one-time cost like the bucketed layout they sit on.
    Oracle: the same SQL over the raw tables (DuckDB reorders from its
    own stats — both engines answer from the selective side first)."""
    return cbo_reordered_plan(spark, sf_dir)
