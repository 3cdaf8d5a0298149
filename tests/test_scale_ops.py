"""Scale-operations tests: Z-order clustering (key correctness + actual
min/max-envelope tightening), skew profiling, compaction writer."""

from __future__ import annotations

import pytest

from .conftest import SF_SMOKE, assert_parity


def _morton_ref(a: int, b: int) -> int:
    """Bit-by-bit reference Morton interleave (independent of the
    mask/shift implementation under test); low-31-bit domain."""
    a &= 0x7FFFFFFF
    b &= 0x7FFFFFFF
    out = 0
    for i in range(31):
        out |= ((a >> i) & 1) << (2 * i)
        out |= ((b >> i) & 1) << (2 * i + 1)
    return out


def test_morton_key_matches_reference(spark):
    from pyspark.sql import functions as F

    from ida_dataengineerproject_spark.operators.zorder import morton_key

    pairs = [(0, 0), (1, 0), (0, 1), (5, 3), (12345, 54321), (2**31 - 1, 2**20)]
    df = spark.createDataFrame(pairs, "a long, b long").withColumn(
        "zkey", morton_key(F.col("a"), F.col("b"))
    )
    got = {(r.a, r.b): r.zkey for r in df.collect()}
    for a, b in pairs:
        assert got[(a, b)] == _morton_ref(a, b), (a, b)


def test_zorder_clustering_tightens_file_envelopes(spark, tmp_path):
    """The point of Z-ordering: after cluster_by_zorder, each output
    file's (custkey-range × date-range) envelope covers a small fraction
    of the total key space, so row-group min/max stats prune on EITHER
    column.  Compare summed envelope area against an unclustered
    round-robin write of the same rows into the same file count."""
    from pyspark.sql import functions as F

    from ida_dataengineerproject_spark.operators.zorder import cluster_by_zorder
    from ida_dataengineerproject_spark.sources.tables import table

    orders = table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_orderdate").cast("date").alias("d")
    )
    n_files = 8

    def envelope_area(df):
        per_file = (
            df.withColumn("f", F.spark_partition_id())
            .groupBy("f")
            .agg(
                (F.max("o_custkey") - F.min("o_custkey")).alias("ck_span"),
                F.datediff(F.max("d"), F.min("d")).alias("d_span"),
            )
        )
        row = per_file.agg(
            F.sum(F.col("ck_span") * F.col("d_span")).alias("area")
        ).collect()[0]
        return row.area

    with_epoch = orders.withColumn(
        "d_epoch", F.datediff("d", F.lit("1970-01-01")).cast("long")
    )
    clustered = cluster_by_zorder(with_epoch, "o_custkey", "d_epoch", n_files)
    plain = with_epoch.repartition(n_files)

    area_z = envelope_area(clustered)
    area_plain = envelope_area(plain)
    # round-robin files each span ~the whole (custkey × date) space;
    # Z-ordered files must cover far less of it combined
    assert area_z < area_plain * 0.5, (area_z, area_plain)


def test_write_compacted_file_count_and_content(spark, tmp_path):
    from pyspark.sql import functions as F

    from ida_dataengineerproject_spark.sources.compaction import (
        estimated_plan_bytes,
        write_compacted,
    )

    # 64 small files of the same table
    src = str(tmp_path / "small_files")
    df = spark.range(10_000).select(
        "id", F.md5(F.col("id").cast("string")).alias("payload")
    )
    df.repartition(64).write.parquet(src)
    assert len(spark.read.parquet(src).inputFiles()) == 64

    assert estimated_plan_bytes(spark.read.parquet(src)) > 0

    dst = str(tmp_path / "compacted")
    write_compacted(spark.read.parquet(src), dst, target_file_mb=128)
    # ~1 MB of data → a couple files max
    assert len(spark.read.parquet(dst).inputFiles()) < 8

    back = spark.read.parquet(dst)
    assert back.count() == 10_000
    assert back.select(F.sum(F.crc32("payload"))).collect()[0][0] == (
        df.select(F.sum(F.crc32("payload"))).collect()[0][0]
    )

    # target size caps partition count from plan stats: tiny target → many
    n = write_compacted(
        spark.read.parquet(src), str(tmp_path / "tiny"), target_file_mb=1
    )
    assert n >= 1


def test_write_compacted_clamps_statless_plans(spark, tmp_path):
    """Plans without file statistics (LogicalRDD; Kafka/rate streaming
    micro-batches are the production case) report Catalyst's
    defaultSizeInBytes sentinel, not a size.  The writer must fall back to
    the input partition count instead of demanding ~2^36 partitions."""
    from ida_dataengineerproject_spark.sources.compaction import (
        _ESTIMATE_CAP_BYTES,
        estimated_plan_bytes,
        write_compacted,
    )

    rdd = spark.sparkContext.parallelize([(i,) for i in range(100)], 4)
    df = spark.createDataFrame(rdd, "id long")
    assert estimated_plan_bytes(df) >= _ESTIMATE_CAP_BYTES  # the sentinel
    n = write_compacted(df, str(tmp_path / "statless"))
    assert 1 <= n <= 4  # input partition count, not 2^36
    assert spark.read.parquet(str(tmp_path / "statless")).count() == 100


def test_zorder_strict_rejects_truncated_ids(spark):
    """cluster_by_zorder(strict=True) must raise at scan time when a key
    would be truncated by the 31-bit mask (silent truncation degrades
    file pruning quality); strict=False keeps the documented low-31-bit
    clustering behavior."""
    from pyspark.sql import functions as F

    from ida_dataengineerproject_spark.operators.zorder import cluster_by_zorder

    wide = spark.range(10).select(
        (F.col("id") + 2**31).alias("a"), F.col("id").alias("b")
    )
    with pytest.raises(Exception, match="zorder.*pre-hash or bucket"):
        cluster_by_zorder(wide, "a", "b", 2).collect()

    # strict=False: documented truncating behavior still works
    assert cluster_by_zorder(wide, "a", "b", 2, strict=False).count() == 10

    # in-range data passes the guard untouched
    ok = spark.range(10).select(
        F.col("id").alias("a"), F.col("id").alias("b")
    )
    assert cluster_by_zorder(ok, "a", "b", 2).count() == 10


@pytest.mark.parametrize(
    "name",
    [
        "xs1_zorder_key_orders",
        "xs2_key_skew_profile",
        "xs3_compaction_roundtrip",
        "xs4_zorder_pruned_scan",
    ],
)
def test_scale_ops_oracle_parity(spark, duck, name):
    from ida_dataengineerproject_spark.registry import ORACLES, QUERIES

    assert_parity(QUERIES[name](spark, SF_SMOKE), duck, ORACLES[name])


def test_manifest_pruning_skips_buckets(spark, tmp_path):
    """Z-order partitioned write + manifest prune: a selective 2-D
    predicate must read a strict subset of bucket directories, and the
    pruned read + residual filter must equal the plain filtered scan
    exactly."""
    from pyspark.sql import functions as F

    from ida_dataengineerproject_spark.sources.file_pruning import (
        build_bucket_manifest,
        pruned_read,
        write_zorder_partitioned,
    )
    from ida_dataengineerproject_spark.sources.tables import table

    orders = table(spark, SF_SMOKE, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d"),
    )
    out = str(tmp_path / "orders_z")
    write_zorder_partitioned(orders, "o_custkey", "d", 8, out)

    manifest = build_bucket_manifest(spark, out, ["o_custkey", "d"])
    assert manifest.count() == 8

    preds = {"o_custkey": (0, 120), "d": (9496, 9861)}
    pruned, stats = pruned_read(spark, out, manifest, preds)
    assert stats["buckets_total"] == 8
    assert stats["buckets_read"] < 8, stats  # skipping actually happened
    assert stats["files_read"] < stats["files_total"]

    expected = orders.filter(
        (F.col("o_custkey").between(0, 120)) & (F.col("d").between(9496, 9861))
    )
    assert pruned.count() == expected.count()
    assert (
        pruned.agg(F.sum("o_orderkey")).collect()[0][0]
        == expected.agg(F.sum("o_orderkey")).collect()[0][0]
    )

    # non-overlapping predicate prunes everything
    none, stats0 = pruned_read(spark, out, manifest, {"o_custkey": (10**9, 2 * 10**9)})
    assert stats0["buckets_read"] == 0 and none.count() == 0


def test_pruned_read_uses_dynamic_partition_pruning(spark, tmp_path):
    """The pruned scan must carry the bucket filter as a PartitionFilter
    (dynamic pruning expression from the broadcast semi-join) — proof the
    skip happens at directory level inside Spark's file index, not via a
    driver-built path list."""
    from pyspark.sql import functions as F

    from ida_dataengineerproject_spark.sources.file_pruning import (
        build_bucket_manifest,
        pruned_read,
        write_zorder_partitioned,
    )
    from ida_dataengineerproject_spark.sources.tables import table

    orders = table(spark, SF_SMOKE, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("d"),
    )
    out = str(tmp_path / "orders_dpp")
    write_zorder_partitioned(orders, "o_custkey", "d", 8, out)
    manifest = build_bucket_manifest(spark, out, ["o_custkey", "d"])

    pruned, _ = pruned_read(spark, out, manifest, {"o_custkey": (0, 120)})
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:4000]


def test_prune_buckets_is_relational_at_scale(spark):
    """prune_buckets must stay a pure DataFrame op (no collect, no driver
    loop) and behave correctly on a manifest far larger than any file
    count a collect-based design was tested at (2·10⁴ bucket rows)."""
    import inspect

    from pyspark.sql import functions as F

    from ida_dataengineerproject_spark.sources.file_pruning import (
        BUCKET_COL,
        prune_buckets,
    )

    src = inspect.getsource(prune_buckets)
    assert ".collect(" not in src and ".toPandas(" not in src

    n = 20_000
    # bucket i covers key interval [10i, 10i+9] and an all-NULL tail
    manifest = (
        spark.range(n)
        .select(
            F.col("id").cast("int").alias(BUCKET_COL),
            F.lit(1).alias("n_files"),
            (F.col("id") * 10).alias("min_k"),
            (F.col("id") * 10 + 9).alias("max_k"),
        )
        .withColumn(
            "min_k",
            F.when(F.col(BUCKET_COL) >= n - 100, F.lit(None)).otherwise(
                F.col("min_k")
            ),
        )
        .withColumn(
            "max_k",
            F.when(F.col(BUCKET_COL) >= n - 100, F.lit(None)).otherwise(
                F.col("max_k")
            ),
        )
    )
    # predicate [995, 3004] overlaps buckets 99..300 inclusive = 202
    kept = prune_buckets(manifest, {"k": (995, 3004)})
    assert kept.count() == 202
    # all-NULL envelopes never survive
    wide = prune_buckets(manifest, {"k": (0, 10 * n)})
    assert wide.count() == n - 100


def test_bloom_index_lookup_prunes_partitions_losslessly(spark, tmp_path):
    """The per-partition bloom index reads a strict subset of partitions
    for a sparse key set, and the pruned result equals the exact lookup.
    FP slack is allowed (superset pruning) but bounded well below the
    partition count."""
    import pyspark.sql.functions as F

    from ida_dataengineerproject_spark.sources.file_pruning import (
        bloom_pruned_lookup,
        build_bloom_index,
    )

    # 40 partitions x 250 keys, keys strictly local to one partition
    df = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") % 40).cast("string").alias("part")
    )
    path = str(tmp_path / "t")
    df.write.partitionBy("part").parquet(path)

    keys = spark.createDataFrame([(5,), (6,), (12_345,)], "k long")
    index = build_bloom_index(spark, path, "part", "k")
    hit, stats = bloom_pruned_lookup(spark, path, index, "part", "k", keys)

    got = sorted((r["k"], r["part"]) for r in hit.collect())
    # partition inference reads "part" back as int
    assert got == [(5, 5), (6, 6)]  # 12345 absent; exact rows found
    assert stats["parts_total"] == 40
    # true partitions = 2; allow a little FP slack, require real pruning
    assert 2 <= stats["parts_read"] <= 6


def test_zorder_compress_handles_64bit_ids(spark, tmp_path):
    """BENCH_SCALE_r9 found xs4 raising on the x10 replica's shifted
    64-bit keys.  compress=True must cluster arbitrary long ids
    (order-preserving (v - min) >> shift into [0, 2^31)) and the pruned
    read must still return the exact filtered result on the ORIGINAL
    values."""
    from pyspark.sql import functions as F

    from ida_dataengineerproject_spark.operators.zorder import (
        cluster_by_zorder,
        compress_ranges,
    )
    from ida_dataengineerproject_spark.sources.file_pruning import (
        build_bucket_manifest,
        pruned_read,
        write_zorder_partitioned,
    )

    # ids spanning several replica copies (i*10^9 shifts) like the x10 dir
    df = spark.range(2000).select(
        (F.col("id") % 200 + (F.col("id") % 10) * 1_000_000_000).alias("k"),
        (F.col("id") % 365).alias("d"),
        F.col("id").alias("payload"),
    )
    rngs = compress_ranges(df, ["k", "d"])
    lo_k, sh_k = rngs["k"]
    assert lo_k == 0 and sh_k >= 2  # span ~9e9 needs >31 bits
    assert rngs["d"] == (0, 0)  # small span untouched

    # strict arm still raises; compress arm clusters fine
    import pytest as _pytest

    with _pytest.raises(Exception, match="pre-hash or bucket"):
        cluster_by_zorder(df, "k", "d", 4).collect()
    out = str(tmp_path / "z64")
    write_zorder_partitioned(df, "k", "d", 4, out)

    manifest = build_bucket_manifest(spark, out, ["k", "d"])
    pruned, stats = pruned_read(
        spark, out, manifest, {"k": (100, 199), "d": (0, 99)}
    )
    got = sorted(r.payload for r in pruned.collect())
    want = sorted(
        r.payload
        for r in df.filter(
            (F.col("k").between(100, 199)) & (F.col("d").between(0, 99))
        ).collect()
    )
    assert got == want and got  # non-empty exact result
