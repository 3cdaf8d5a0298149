"""Bucketed-table storage arm — the 100 TB answer to repeated fact⋈fact
joins (pyspark_guide.md 'Partitioning & shuffle'; SURVEY.md §7.4.2).

A Spark bucketed table (``bucketBy(n, key).sortBy(key)``, catalog-backed)
stores each side pre-hash-partitioned on the join key: a join of two
tables bucketed with the SAME bucket count on their join keys satisfies
the join's distribution requirement straight off the scans — NO Exchange
on either side, ever again.  The shuffle is paid ONCE at write time and
amortized over every subsequent query; this is what a training-pipeline
fact table should look like at rest.

Used by the flagship's bucketed arm (plans/taxa_variacao.py) and the xs9
demonstrator (queries/scale_ops.py).  The r9 at-scale profile measured
4.4 s of the flagship's 8.7 s x100 wall as pure shuffle write+read of the
lineitem⋈orders exchange — exactly the cost this layout deletes.

Bucket-count guidance: scans schedule ONE task per bucket (bucket files
are not split), so n_buckets bounds read parallelism; at 100 TB you size
buckets to ~128 MB-1 GB of data each (thousands of buckets), locally we
default to the core count.  Both join sides MUST use the same count.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_cores
from .tables import table


def _bucket_root() -> str:
    """Per-PID scratch dir for bucketed-table copies, removed at process
    exit (ADVICE r10: repeated bench/parity processes were accumulating
    full projected fact copies in /tmp — gigabytes each at x100)."""
    base = os.path.join(
        tempfile.gettempdir(), f"spark_graft_bucketed_p{os.getpid()}"
    )
    if base not in _CLEANUP_REGISTERED:
        _CLEANUP_REGISTERED.add(base)
        atexit.register(shutil.rmtree, base, ignore_errors=True)
    return base


_CLEANUP_REGISTERED: set[str] = set()


def default_buckets() -> int:
    """Local default: one bucket per core (scan task per bucket)."""
    return local_cores()


def ensure_bucketed(
    spark: SparkSession,
    sf_dir: str,
    tbl: str,
    key: str,
    cols: list[str],
    n_buckets: int | None = None,
    derived: dict[str, str] | None = None,
) -> str:
    """Materialize ``{sf_dir}/{tbl}.parquet`` (projected to ``cols``) as a
    catalog bucketed table, bucketed AND sorted on ``key``; return the
    table name.  Idempotent per (process, sf_dir, tbl, cols, derived):
    reruns in bench/parity reuse the table (`tableExists` gate) — the
    one-time write cost lands on the first run only, which is the honest
    analogue of a warehouse that keeps its fact tables bucketed at rest.

    ``derived`` adds computed columns (name → SQL expression string)
    BEFORE bucketing, so the bucket key may be a derived value — the
    ingest-time pattern for content-addressed layouts (r12: a
    ``md5(text)`` content hash stored as a column and bucketed on, so
    every downstream dedup/grouping on the hash is exchange-free).  The
    expression text rides the memo tag: two calls deriving different
    expressions never share a table.

    The ``repartition(n, key)`` before the write aligns write tasks with
    buckets (Spark's repartition hash IS the bucketing hash): exactly one
    file per bucket, no small-file fan-out.
    """
    n = n_buckets or default_buckets()
    # tag includes the bucket KEY (ADVICE r10): without it, a later call
    # bucketing the same (table, cols) on a DIFFERENT key would silently
    # reuse a table bucketed on the wrong key — the catalog's real bucket
    # spec wins and the expected exchange-free plan quietly disappears.
    dtag = ";".join(f"{k}={v}" for k, v in sorted((derived or {}).items()))
    tag = hashlib.md5(
        f"{sf_dir}|{key}|{','.join(cols)}|{n}|{dtag}".encode()
    ).hexdigest()[:8]
    name = f"bkt{n}_{tbl}_{tag}"
    if not spark.catalog.tableExists(name):
        base = _bucket_root()
        df = table(spark, sf_dir, tbl).select(*cols)
        for dname, expr in (derived or {}).items():
            df = df.withColumn(dname, F.expr(expr))
        (
            df.repartition(n, F.col(key))
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(n, key)
            .sortBy(key)
            .option("path", os.path.join(base, name))
            .saveAsTable(name)
        )
    return name


# The fact tables' at-rest bucket keys — the join/aggregate key every
# orderkey-grain query shares (flagship, q3, q10, q18, q21, ...).
FACT_KEYS = {"lineitem": "l_orderkey", "orders": "o_orderkey"}


def bucketed_fact(
    spark: SparkSession,
    sf_dir: str,
    tbl: str,
    n_buckets: int | None = None,
) -> DataFrame:
    """The CANONICAL bucketed copy of a fact table: FULL width, bucketed
    and sorted on its orderkey (r11).  One copy serves every
    orderkey-keyed query — parquet column pruning makes a projected scan
    of the full-width table read the same bytes a per-query projected
    copy would, so there is no reason to keep N projections (the r10
    arms each wrote their own column subset; N copies of lineitem in
    /tmp and N one-time write costs).  This is also the honest warehouse
    posture: the table at rest is written once at ingest, wide, and
    every nightly query — including ones not written yet — gets the
    Exchange-free join/aggregate for free.

    The shuffle_hash hint guards the layout's contract (r11 ratio-guard
    catch, plans/taxa_variacao.py has the full profile): Catalyst's
    size-only estimator scales a narrow projection over the full-width
    table by row-width ratio, which can shrink an UNFILTERED fact side
    below the broadcast threshold — and a fact-side BroadcastExchange
    both wastes the layout and measured 4.6× slower than the
    exchange-free hash join at the x100 replica.  The hint only
    constrains joins where no side carries an explicit broadcast hint
    (Spark's hint precedence: broadcast > merge > shuffle_hash), so the
    arms' F.broadcast(dim) joins keep broadcasting; shuffle_hash beats
    merge here because Spark 4 drops bucket-file sort order and SMJ
    would re-sort every bucket (A/B at x100: 1.94 vs 2.12 s)."""
    key = FACT_KEYS[tbl]
    cols = table(spark, sf_dir, tbl).columns
    return spark.table(
        ensure_bucketed(spark, sf_dir, tbl, key, cols, n_buckets)
    ).hint("shuffle_hash")


# the normalized-fingerprint expression as SQL (functions/hashing.
# text_fingerprint's expr twin — kept textually in sync by
# tests/test_dedup_similarity.py::test_fingerprint_sql_twin_matches)
FINGERPRINT_SQL = "md5(regexp_replace(trim(lower(text)), '\\\\s+', ' '))"


def bucketed_documents_by_fingerprint(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int | None = None,
) -> DataFrame:
    """``documents`` bucketed+sorted on a STORED normalized-text
    fingerprint (``fp``) — the content-addressed layout keyed the way a
    rolling-crawl pipeline actually dedups (case-fold + whitespace-
    collapse before hashing, reference etl_ida.py:398-404).  Serves
    every fp-keyed operation exchange-free: normalized dedup (x01b
    shape) and, critically, the cross-corpus anti-join (xt12) where
    BOTH sides are snapshots of the same content-addressed store."""
    cols = table(spark, sf_dir, "documents").columns
    return spark.table(
        ensure_bucketed(
            spark,
            sf_dir,
            "documents",
            "fp",
            cols,
            n_buckets,
            derived={"fp": FINGERPRINT_SQL},
        )
    )


def bucketed_documents_by_hash(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int | None = None,
) -> DataFrame:
    """The content-addressed at-rest copy of ``documents`` (r12): full
    width plus a stored ``hash_registro = md5(text)`` column, bucketed
    AND sorted on that hash.  At 100 TB, exact dedup is the single
    biggest recurring job a training-data warehouse runs — and its only
    shuffle is the hash-grain exchange.  Storing the content hash at
    ingest and bucketing on it (the content-addressed layout) deletes
    that exchange for EVERY downstream hash-keyed operation: exact
    dedup, duplicate counting, cross-snapshot containment.  One copy
    per process serves them all (memoized like the fact tables; a real
    warehouse pays the hash+write once at ingest).  No join hint — the
    consumers are windows/aggregates, not joins."""
    cols = table(spark, sf_dir, "documents").columns
    return spark.table(
        ensure_bucketed(
            spark,
            sf_dir,
            "documents",
            "hash_registro",
            cols,
            n_buckets,
            derived={"hash_registro": "md5(text)"},
        )
    )
