"""Training-data pipeline operators beyond the reference surface
(driver north-star: dedup/similarity/text analysis already live in
dedup_ops/vector_ops/text_ops; this module adds the preparation ops a
100 TB corpus pipeline needs around them).

All pure built-in column expressions (JVM-side, whole-stage codegen) —
no Python UDFs.  Every op has a bit-exact DuckDB oracle; cross-engine
determinism notes per op.

Reference tie-in: the reference's ETL is itself a (tiny) training-data
prep pipeline — fetch, clean, dedup, load (etl/etl_ida.py:732-834);
these ops are the scale-out generalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.aggs import avg_exact, sum_exact
from ..registry import register
from ..sources.tables import table

EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "555-[0-9]{4}"


@register(
    "xt1_hash_split_assignment",
    """
    SELECT split, COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_chars AS DECIMAL(38,0))) AS DOUBLE) / COUNT(n_chars) AS avg_chars
    FROM (SELECT n_chars,
                 CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
                      WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
                      ELSE 'test' END AS split
          FROM documents) t
    GROUP BY split
    ORDER BY split
    """,
)
def hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by content-independent key hash
    — the standard way to partition a training corpus so membership is
    stable across runs and machines (no RNG, no shuffle order
    dependence).  First hex char of md5(doc_id): 0-b → train (12/16),
    c-d → val (2/16), e-f → test (2/16).  md5 is identical across
    engines, so assignment is reproducible anywhere; at 100 TB the split
    is a narrow projection + map-side CASE, no shuffle beyond the final
    3-row aggregate."""
    docs = table(spark, sf_dir, "documents")
    c1 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(c1 <= "b", "train").when(c1 <= "d", "val").otherwise("test")
    )
    return (
        docs.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            avg_exact("n_chars", scale=0).alias("avg_chars"),
        )
        .orderBy("split")
    )


@register(
    "xt2_pii_scrub",
    """
    SELECT doc_id,
           regexp_replace(regexp_replace(with_pii, '{email}', '[EMAIL]', 'g'),
                          '{phone}', '[PHONE]', 'g') AS scrubbed,
           len(regexp_extract_all(with_pii, '{email}')) AS n_emails,
           len(regexp_extract_all(with_pii, '{phone}')) AS n_phones
    FROM (SELECT doc_id,
                 substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@mail.example tel 555-'
                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS with_pii
          FROM documents) t
    ORDER BY doc_id
    """.format(email=EMAIL_RE, phone=PHONE_RE),
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: regex-mask emails and phone-shaped tokens, count
    what was masked (audit trail).  The corpus is synthetic with no real
    PII, so the query plants a deterministic email+phone per row first —
    the scrub path (two chained regexp_replace, all-occurrence) and the
    audit counts are what's under test.  Both regexes are in the common
    Java-regex/RE2 subset so Spark and DuckDB agree.  Pure codegen'd
    string ops: at 100 TB this is an embarrassingly parallel map with
    zero shuffle."""
    docs = table(spark, sf_dir, "documents")
    with_pii = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example tel 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    return (
        docs.withColumn("with_pii", with_pii)
        .select(
            "doc_id",
            F.regexp_replace(
                F.regexp_replace("with_pii", EMAIL_RE, "[EMAIL]"),
                PHONE_RE,
                "[PHONE]",
            ).alias("scrubbed"),
            F.regexp_count("with_pii", F.lit(EMAIL_RE)).cast("bigint").alias("n_emails"),
            F.regexp_count("with_pii", F.lit(PHONE_RE)).cast("bigint").alias("n_phones"),
        )
        .orderBy("doc_id")
    )


@register(
    "xt3_doc_chunking",
    """
    SELECT doc_id,
           CAST(start // 24 AS INT) AS chunk_id,
           array_to_string(list_slice(words, start + 1, start + 32), ' ') AS chunk
    FROM (SELECT doc_id, string_split(text, ' ') AS words,
                 unnest(generate_series(0, greatest(len(string_split(text, ' ')) - 1, 0), 24)) AS start
          FROM documents) t
    ORDER BY doc_id, chunk_id
    """,
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size chunking (32-word windows, stride 24 → 8
    words of overlap) — the standard pre-tokenization step for LLM
    training corpora.  Implemented as sequence→transform→posexplode, all
    JVM array intrinsics: per-row generated data, no shuffle, scales
    linearly."""
    docs = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(words) - 1, F.lit(0)), F.lit(24)
    )
    chunks = F.transform(
        starts, lambda s: F.array_join(F.slice(words, s + 1, 32), " ")
    )
    return (
        docs.select("doc_id", F.posexplode(chunks).alias("chunk_id", "chunk"))
        .select("doc_id", F.col("chunk_id").cast("int").alias("chunk_id"), "chunk")
        .orderBy("doc_id", "chunk_id")
    )


@register(
    "xt4_fk_integrity_audit",
    """
    SELECT 'lineitem.l_orderkey->orders' AS fk, COUNT(*) AS orphans
    FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem.l_partkey->part', COUNT(*)
    FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
    UNION ALL
    SELECT 'orders.o_custkey->customer', COUNT(*)
    FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'events.user_id->supplier', COUNT(*)
    FROM events e WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = e.user_id)
    ORDER BY fk
    """,
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan count per FK edge via
    left-anti joins — the data-quality gate a training pipeline runs
    before joining corpora.  The events.user_id→supplier edge is
    deliberately mismatched (150 users vs 100 suppliers) so the audit
    provably detects orphans; the true FK edges assert zero.  Each
    anti-join prunes to the key column before shuffling; small parents
    broadcast."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    p = table(spark, sf_dir, "part")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    e = table(spark, sf_dir, "events")

    def orphans(child, ckey, parent, pkey, label):
        return (
            child.select(F.col(ckey))
            .join(F.broadcast(parent.select(F.col(pkey))), F.col(ckey) == F.col(pkey), "left_anti")
            .agg(F.count("*").alias("orphans"))
            .select(F.lit(label).alias("fk"), "orphans")
        )

    return (
        orphans(li, "l_orderkey", o, "o_orderkey", "lineitem.l_orderkey->orders")
        .unionAll(orphans(li, "l_partkey", p, "p_partkey", "lineitem.l_partkey->part"))
        .unionAll(orphans(o, "o_custkey", c, "c_custkey", "orders.o_custkey->customer"))
        .unionAll(orphans(e, "user_id", s, "s_suppkey", "events.user_id->supplier"))
        .orderBy("fk")
    )


@register(
    "xt5_column_profile",
    """
    SELECT 'doc_id' AS col, COUNT(*) AS n_rows,
           COUNT(*) - COUNT(doc_id) AS n_null,
           COUNT(DISTINCT doc_id) AS n_distinct,
           MIN(CAST(doc_id AS VARCHAR)) AS min_str, MAX(CAST(doc_id AS VARCHAR)) AS max_str
    FROM documents
    UNION ALL
    SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang), COUNT(DISTINCT lang),
           MIN(lang), MAX(lang) FROM documents
    UNION ALL
    SELECT 'source', COUNT(*), COUNT(*) - COUNT(source), COUNT(DISTINCT source),
           MIN(source), MAX(source) FROM documents
    UNION ALL
    SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars), COUNT(DISTINCT n_chars),
           MIN(CAST(n_chars AS VARCHAR)), MAX(CAST(n_chars AS VARCHAR)) FROM documents
    ORDER BY col
    """,
)
def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (rows / nulls / distinct / min / max per column)
    — the first pass any corpus-ingest pipeline runs.  Spark side is one
    multi-aggregate (the exact-distinct rewrite costs a second scan — 2
    total vs the oracle's 4), then the per-column rows are unpacked with
    inline().  Numeric min/max are cast to string so every profile row
    has one schema."""
    docs = table(spark, sf_dir, "documents")

    def measures(colname):
        c = F.col(colname)
        return [
            F.count("*").alias(f"{colname}__rows"),
            (F.count("*") - F.count(c)).alias(f"{colname}__null"),
            F.countDistinct(c).alias(f"{colname}__distinct"),
            F.min(c.cast("string")).alias(f"{colname}__min"),
            F.max(c.cast("string")).alias(f"{colname}__max"),
        ]

    cols = ["doc_id", "lang", "source", "n_chars"]
    aggs = [m for col in cols for m in measures(col)]
    one = docs.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(col).alias("col"),
                F.col(f"{col}__rows").alias("n_rows"),
                F.col(f"{col}__null").alias("n_null"),
                F.col(f"{col}__distinct").alias("n_distinct"),
                F.col(f"{col}__min").alias("min_str"),
                F.col(f"{col}__max").alias("max_str"),
            )
            for col in cols
        ]
    )
    return one.select(F.inline(structs)).orderBy("col")


@register(
    "xt6_inverted_index",
    """
    SELECT token, COUNT(*) AS n_docs,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS postings_md5
    FROM (SELECT DISTINCT doc_id, token
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) u
          WHERE token <> '') td
    GROUP BY token
    ORDER BY token
    """,
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build (token → sorted doc-id postings list), the
    retrieval-side companion of dedup/similarity.  Postings are compared
    via md5 of the comma-joined sorted list so the oracle check stays
    O(vocab) regardless of corpus size.  Plan: explode → distinct
    (token,doc) → groupBy token; both shuffles hash on token — at scale
    the distinct and the aggregate share the partitioning, and the
    explode never materializes a driver-side structure."""
    docs = table(spark, sf_dir, "documents")
    td = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .distinct()
    )
    postings = F.array_join(
        F.transform(
            F.sort_array(F.collect_list("doc_id")), lambda d: d.cast("string")
        ),
        ",",
    )
    return (
        td.groupBy("token")
        .agg(
            F.count("*").alias("n_docs"),
            F.md5(postings).alias("postings_md5"),
        )
        .orderBy("token")
    )


@register(
    "xt7_zscore_by_group",
    """
    WITH stats AS (
        SELECT lang, source,
               CAST(SUM(CAST(n_chars AS DECIMAL(38,0))) AS DOUBLE) AS s,
               CAST(SUM(CAST(n_chars * n_chars AS DECIMAL(38,0))) AS DOUBLE) AS ss,
               COUNT(*) AS n
        FROM documents GROUP BY lang, source)
    SELECT d.doc_id,
           (d.n_chars - (s / n)) / sqrt((ss / n) - (s / n) * (s / n)) AS z
    FROM documents d JOIN stats USING (lang, source)
    WHERE n > 1 AND (ss / n) - (s / n) * (s / n) > 0
    ORDER BY d.doc_id
    """,
)
def zscore_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise z-score normalization of a feature (n_chars per
    lang×source) — feature scaling for quality filtering.  Mean and
    population variance come from exact-decimal sums (moment formula), so
    the double arithmetic chain is identical on both engines → bit-exact
    with zero tolerance.  Plan: aggregate the small group-stats table
    first, broadcast it back — never a per-row window over the full
    corpus."""
    docs = table(spark, sf_dir, "documents")
    stats = docs.groupBy("lang", "source").agg(
        sum_exact("n_chars", scale=0).alias("s"),
        F.sum((F.col("n_chars") * F.col("n_chars")).cast("decimal(38,0)"))
        .cast("double")
        .alias("ss"),
        F.count("*").alias("n"),
    )
    mean = F.col("s") / F.col("n")
    var = (F.col("ss") / F.col("n")) - mean * mean
    return (
        docs.join(F.broadcast(stats), ["lang", "source"])
        .filter((F.col("n") > 1) & (var > 0))
        .select(
            "doc_id",
            ((F.col("n_chars") - mean) / F.sqrt(var)).alias("z"),
        )
        .orderBy("doc_id")
    )


@register(
    "x25_leakage_safe_split",
    """
    WITH c AS (
        SELECT doc_id,
               md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
                 AS ckey
        FROM documents),
    k AS (
        SELECT doc_id, ckey,
               COUNT(*) OVER (PARTITION BY ckey) AS csize,
               CASE WHEN substr(md5(ckey), 1, 1) <= 'b' THEN 'train'
                    WHEN substr(md5(ckey), 1, 1) <= 'd' THEN 'val'
                    ELSE 'test' END AS split
        FROM c)
    SELECT split,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT ckey) AS BIGINT) AS n_clusters,
           COUNT(*) FILTER (WHERE csize > 1) AS n_dup_docs
    FROM k GROUP BY split ORDER BY split
    """,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split that cannot leak duplicates across splits:
    assignment hashes the DUPLICATE-CLUSTER key (md5 of the normalized
    text), not the document id, so every member of an exact-dup cluster
    lands in the same split by construction.

    Splitting by doc_id (xt1) is the standard recipe until dedup enters
    the picture: two byte-identical documents with different ids can
    straddle train and test, and the model is then evaluated on its own
    training data — the benchmark-contamination failure mode xt8
    measures after the fact.  Hashing the content-derived cluster key
    eliminates it structurally (same first-hex-char thresholds as xt1:
    12/2/2 of 16).  For NEAR-dup safety the same shape composes with
    x02d's component labels as the cluster key; the exact-normalized
    key here (x01b's fingerprint) keeps the oracle in plain SQL.

    Scale: one narrow projection + hash (no shuffle), one windowed
    cluster-size count keyed by cluster hash (uniform — md5 keys cannot
    skew), one 3-row aggregate.  Nothing driver-side.
    """
    from ..functions.hashing import text_fingerprint

    docs = table(spark, sf_dir, "documents")
    ckey = text_fingerprint("text")
    w = Window.partitionBy("ckey")
    k = docs.select("doc_id", ckey.alias("ckey")).withColumn(
        "csize", F.count("*").over(w)
    )
    c1 = F.substring(F.md5(F.col("ckey")), 1, 1)
    split = (
        F.when(c1 <= "b", "train").when(c1 <= "d", "val").otherwise("test")
    )
    return (
        k.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("ckey").alias("n_clusters"),
            F.sum(F.when(F.col("csize") > 1, 1).otherwise(0)).alias(
                "n_dup_docs"
            ),
        )
        .orderBy("split")
    )


N_SHARDS = 8


@register(
    "xt24_balanced_shards",
    f"""
    WITH r AS (
        SELECT doc_id, n_chars,
               ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS r0
        FROM documents),
    s AS (
        SELECT n_chars,
               CASE WHEN (r0 // {N_SHARDS}) % 2 = 0
                    THEN r0 % {N_SHARDS}
                    ELSE {N_SHARDS} - 1 - (r0 % {N_SHARDS})
               END AS shard
        FROM r)
    SELECT CAST(shard AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM s GROUP BY shard
    """,
)
def q_xt24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-balanced training shards: documents ranked by size (desc),
    dealt to {N_SHARDS} shards in snake (boustrophedon) order — the
    standard deterministic greedy that keeps per-shard byte totals within
    one document of each other on sorted input, so no training shard
    becomes the straggler.

    Scale shape: the oracle's ROW_NUMBER() OVER (ORDER BY ...) is a
    single-partition global sort — the exact cliff operators/ranking.py
    exists to remove.  The Spark side ranks via global_rank (two-level
    rank over equal-width buckets probed inside the plan: the only
    single-partition steps merge the min/max probe's per-partition
    partials and <= n_buckets aggregated rows), then the snake arithmetic and the
    per-shard rollup are pure codegen.  Ranking by (-n_chars, doc_id)
    keeps the order total, so shard assignment is bit-deterministic."""
    from ..operators.ranking import global_rank

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", (-F.col("n_chars")).alias("neg")
    )
    ranked = global_rank(docs, "neg", ["doc_id"], rank_col="rnk")
    r0 = (F.col("rnk") - 1).cast("long")
    block_even = (F.floor(r0 / N_SHARDS) % 2) == 0
    pos = r0 % N_SHARDS
    shard = F.when(block_even, pos).otherwise(N_SHARDS - 1 - pos)
    return (
        ranked.select(
            shard.cast("int").alias("shard"), F.col("n_chars")
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )
