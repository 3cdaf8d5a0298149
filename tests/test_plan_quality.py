"""Physical-plan audits: the scale posture is only real if the optimizer
artifacts are in the plan.  These tests pin the properties that matter at
100 TB — filter/column pushdown into the parquet scan, broadcast joins for
dims, TakeOrderedAndProject for top-k, WindowGroupLimit for ranked filters,
no cartesian products in LSH paths."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from .conftest import SF_SMOKE, assert_bounded_single_partition_exchanges


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_and_projection_pushdown(spark):
    from ida_dataengineerproject_spark.sources.tables import table

    df = (
        table(spark, SF_SMOKE, "lineitem")
        .filter(F.col("l_shipdate") > "1996-01-01")
        .select("l_orderkey", "l_extendedprice")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in plan
    # column pruning: scan schema holds only the 3 referenced columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_extendedprice" in read_schema
    assert "l_partkey" not in read_schema and "l_comment" not in read_schema


def test_star_join_broadcasts_dims(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["op31_star_join_revenue"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must never shuffle the fact


def test_flagship_joins_before_windows(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["flagship_taxa_variacao"](spark, SF_SMOKE))
    # the only full-table join (lineitem⋈orders) may shuffle; windows must
    # run over HashAggregate output (month/group grain), never raw rows
    assert plan.index("HashAggregate") < plan.index("Window")


def test_topk_uses_take_ordered(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["op41_global_sort_limit"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan  # no global sort materialization


def test_ranked_filter_uses_window_group_limit(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["x08_topk_per_key"](spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan  # rn<=k pushed into the sort


def test_lsh_paths_have_no_cartesian(spark):
    """The LSH operators themselves must stay equi-join-only.  (The x03b
    registered query additionally embeds the brute-force baseline for its
    recall contract — that part broadcasts by design, so the check runs
    on the operators, not the contract query.)"""
    import __spark_entry__ as e
    from pyspark.sql import functions as F

    from ida_dataengineerproject_spark.operators.similarity import cosine_topk_lsh
    from ida_dataengineerproject_spark.sources.tables import table

    plan = _plan(e.queries()["x02b_minhash_lsh_pairs"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    emb = table(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    plan = _plan(cosine_topk_lsh(emb, q, k=10, n_tables=16, n_planes=4, dim=64))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_session_hardening_confs(spark):
    """Scale/correctness confs every query depends on are actually set
    by session.harden (AQE + skew join + UTC + ANSI-off + nanos)."""
    from ida_dataengineerproject_spark.session import harden

    harden(spark)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.ansi.enabled") == "false"
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"


def test_unpivot_is_shuffle_free(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["op16_unpivot_measures"](spark, SF_SMOKE))
    assert "Exchange" not in plan  # Expand node only — no shuffle


def test_q19_derives_disjunctive_pushdown(spark):
    """Catalyst must derive the per-table implications of the
    OR-of-ANDs (brand/size on part, quantity bands on lineitem) and push
    both into the parquet scans — the property that makes Q19 scale."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["tpch_q19_disjunctive"](spark, SF_SMOKE))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_quantity" in l and "Or(" in l for l in pushed)
    assert any("p_brand" in l and "Or(" in l for l in pushed)


def test_q21_semi_and_anti_joins(spark):
    """EXISTS/NOT EXISTS become LeftSemi/LeftAnti physical joins (never a
    distinct+inner or a cartesian), with dims broadcast."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["tpch_q21_suppliers_kept_waiting"](spark, SF_SMOKE))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_zscore_stats_broadcast_back(spark):
    """Group stats are aggregated first and broadcast back to the corpus —
    never a per-row Window over the full table."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["xt7_zscore_by_group"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_column_profile_scan_count(spark):
    """Single multi-aggregate pass: 2 scans (exact-distinct rewrite), not
    one scan per profiled column like the UNION ALL oracle."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["xt5_column_profile"](spark, SF_SMOKE))
    assert plan.count("Scan parquet") <= 2


def test_chunking_is_shuffle_free_before_sort(spark):
    """Chunk generation is per-row array work (Generate/posexplode) —
    the only Exchange allowed is the final presentation orderBy."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["xt3_doc_chunking"](spark, SF_SMOKE))
    assert "Generate" in plan
    # one range-partitioned exchange for the sort; no hash shuffle at all
    assert plan.count("rangepartitioning") == 1
    assert plan.count("hashpartitioning") == 0


def test_vocab_topk_limit_pushed_below_window(spark):
    """xt11 (VERDICT r10 #4): the unpartitioned row_number must never see
    the unbounded vocabulary grain (Heaps-law growth — 10⁷-10⁸ rows at
    100 TB).  The bound is now STRUCTURAL — an explicit limit(100)
    before the window — so this pins both that TakeOrderedAndProject
    exists and that the Window sits ABOVE it (window input = 100 rows by
    construction, not by optimizer-rule grace)."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["xt11_vocab_topk"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    # physical plans print top-down: the unpartitioned Window must appear
    # BEFORE (above) the top-k that bounds its input
    assert "Window" in plan
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")


def test_contamination_index_is_broadcast(spark):
    """xt8: the eval-set n-gram index probes as a broadcast join — the
    corpus-side n-gram stream must never shuffle for the join itself."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["xt8_contamination_overlap"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan


def test_sequence_packing_window_is_partitioned(spark):
    """xt10: the packing cumsum must be a shard-partitioned window, never
    the classic global single-partition hazard."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["xt10_sequence_packing"](spark, SF_SMOKE))
    assert "windowspecdefinition(shard" in plan


def test_flagship_single_fact_scan(spark):
    """r5 single-scan guarantee: both grains come from ONE grouping-sets
    aggregate and the pipeline is linear after it (windows, no
    self-join), so the fact scan and the lineitem⋈orders join must
    appear exactly once in the final adaptive plan.  Every diamond
    formulation measured worse or re-split: Spark 4's aggregate merge
    doubles the scan of a re-aggregated shared grain, persist() raced
    the cache fill at 100x, and filtered grouping-set branches push the
    grouping-id filter below the shared exchange."""
    from ida_dataengineerproject_spark.plans.taxa_variacao import taxa_variacao

    df = taxa_variacao(spark, SF_SMOKE)
    df.collect()  # finalize the adaptive plan
    txt = df._jdf.queryExecution().executedPlan().toString()
    final = txt.split("== Initial Plan ==")[0]  # ignore the pre-AQE echo
    assert final.count("lineitem.parquet") == 1, final
    assert final.count("Expand") >= 1, final  # grouping sets, one pass


def test_q18_single_lineitem_scan(spark):
    """r4 aggregate-once rewrite: the HAVING sum is carried through the
    join, so lineitem appears exactly once in the plan."""
    import __spark_entry__ as e

    df = e.queries()["tpch_q18_large_orders"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # each scan lists its Location exactly once in the tree string
    assert plan.count("lineitem.parquet") == 1, plan.count("lineitem.parquet")


def test_zorder_key_stays_in_codegen(spark):
    """xs1: the Morton key must be pure codegen expressions — no
    BatchEvalPython / mapInPandas stage — and top-10 must compile to
    TakeOrderedAndProject (no global sort)."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["xs1_zorder_key_orders"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_aqe_skew_join_splits_hot_partition(spark):
    """The scale posture leans on AQE skew-join for hot keys (sessionize,
    dim joins): force a skewed sort-merge join and assert the runtime plan
    actually marks it skew-handled (isSkew=true partitions)."""
    from pyspark.sql import functions as F

    old = {
        k: spark.conf.get(k)
        for k in [
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        ]
    }
    try:
        # force SMJ (no broadcast) and make the skew detector sensitive
        # enough to fire on a local-scale hot key
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")

        # one key owns 80% of the left side
        left = spark.range(100_000).select(
            F.when(F.col("id") % 5 != 0, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        right = spark.range(10_000).select(
            F.col("id").alias("k"), F.lit("dim").alias("attr")
        )
        joined = left.join(right, "k")
        # finalize THIS DataFrame's adaptive plan (a writer would execute a
        # separate QueryExecution and leave this one isFinalPlan=false)
        joined.collect()
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "isSkew=true" in final or "skew=true" in final, final[:2000]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_tfidf_topk_uses_window_group_limit_and_broadcast_df(spark):
    """xt18: per-source top-5 must compile to WindowGroupLimit (partial
    top-k before the shuffle), and the document-frequency side must
    broadcast — the corpus token stream never sort-merge-joins."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["xt18_tfidf_rarity_topk"](spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_incremental_merge_delta_filter_is_pushed(spark):
    """xs5: the delta arm's date cutoff must reach the parquet scan as a
    pushed filter — the stored-rollup design only pays off if the delta
    scan skips history at the source."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["xs5_incremental_rollup_merge"](spark, SF_SMOKE))
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_segment_dedup_has_exactly_two_exchanges(spark):
    """xt17: one shuffle keyed on segment (frequency window) + one keyed
    on doc (reassembly) — a frequency-table join would add a third."""
    import __spark_entry__ as e

    tree = _plan(e.queries()["xt17_segment_dedup"](spark, SF_SMOKE)).split(
        "\n\n"
    )[0]
    n_exchanges = tree.count("Exchange (")
    assert n_exchanges == 2, tree


def test_pagerank_topk_avoids_global_sort(spark):
    """x16: the final top-20 must be TakeOrderedAndProject, and rank
    updates must broadcast the (tiny) node-count side."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["x16_pagerank_bipartite"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_pq_adc_scan_has_no_python_in_scoring(spark):
    """x03h production arm: after the (one-off) encode stage, ADC scoring
    and both rank filters are JVM-side — WindowGroupLimit present, and
    exactly ONE Python stage (the encode mapInPandas) in the plan."""
    from ida_dataengineerproject_spark.queries.vector_ops import (
        cosine_topk_pq_query,
    )

    plan = _plan(cosine_topk_pq_query(spark, SF_SMOKE, verify=False))
    assert "WindowGroupLimit" in plan
    tree = plan.split("\n\n")[0]
    assert tree.count("MapInPandas (") == 1, tree


def test_bucketed_join_has_no_exchange_below_join(spark):
    """xs9: both fact tables bucketed on the join key with the same
    bucket count -> the sort-merge join consumes bucketed scans directly
    (Bucketed: true on both sides) and the ONLY Exchange in the whole
    plan is the final 5-group aggregate's — the fact-fact shuffle a
    100 TB join must not pay twice is gone from the plan entirely."""
    from ida_dataengineerproject_spark.queries.scale_ops import (
        _bucketed_join_plan,
    )

    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    saved = [spark.conf.get(k, None) for k in keys]
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        plan = _plan(_bucketed_join_plan(spark, SF_SMOKE))
    finally:
        for k, v in zip(keys, saved):
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)

    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2
    assert len(re.findall(r"\) Exchange\n", plan)) == 1


def test_flagship_bucketed_arm_join_is_exchange_free(spark):
    """flagship_taxa_variacao_bucketed: the lineitem⋈orders join —
    4.4 s of shuffle in the plain arm's x100 profile — consumes the two
    bucketed scans directly: Bucketed: true on both sides, ZERO Exchange
    below the join, and NO broadcast of a fact side.  r11: the arm pins
    the join strategy with a shuffle_hash hint (the ratio guard caught
    Catalyst's width-ratio size estimate broadcasting the unfiltered
    15 M-row orders projection over the full-width canonical table —
    8.9 s vs 1.9 s at x100), so the expected node is ShuffledHashJoin:
    per-partition hash build straight off the bucketed scans, no
    per-bucket sort (Spark 4 drops bucket-file sort order), no
    BroadcastExchange.  The only exchanges left are the grain-sized
    aggregate/window/sort ones (#months × #groups rows)."""
    from ida_dataengineerproject_spark.plans.taxa_variacao import (
        taxa_variacao_bucketed,
    )

    plan = _plan(taxa_variacao_bucketed(spark, SF_SMOKE))
    assert "ShuffledHashJoin" in plan
    assert plan.count("Bucketed: true") == 2
    # the fact join must never shuffle or broadcast either side
    assert "hashpartitioning(l_orderkey" not in plan
    assert "hashpartitioning(o_orderkey" not in plan
    tree = plan.split("\n\n")[0]
    below_join = tree.split("ShuffledHashJoin")[-1]
    assert "Exchange" not in below_join, (
        "bucketed flagship join must not shuffle or broadcast either "
        "side:\n" + below_join
    )


def test_q3_bucketed_arm_join_is_exchange_free(spark):
    """tpch_q3_bucketed (r10): same contract as the flagship's bucketed
    arm — the lineitem⋈orders SMJ consumes both bucketed scans with zero
    Exchange below it, and the BUILDING-customer broadcast join on the
    orders side PRESERVES the bucketed distribution (BroadcastHashJoin
    keeps the streamed side's partitioning), so pre-reducing orders
    through the dim filter costs no re-shuffle.

    Uses the UNDECORATED original: the registered wrapper re-hardens the
    session, restoring the 64 MB broadcast threshold this test disables
    (at smoke scale everything would then broadcast by size and the
    bucketed SMJ shape would never appear)."""
    from ida_dataengineerproject_spark.registry import ORIGINALS

    q3_bucketed = ORIGINALS["tpch_q3_bucketed"]

    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    saved = [spark.conf.get(k, None) for k in keys]
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        plan = _plan(q3_bucketed(spark, SF_SMOKE))
    finally:
        for k, v in zip(keys, saved):
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)

    assert plan.count("Bucketed: true") == 2
    # r11: bucketed_fact pins shuffle_hash, so the fact join is a
    # ShuffledHashJoin straight off the bucketed scans (no per-bucket
    # sort); it must never shuffle on the bucket key
    assert "hashpartitioning(l_orderkey" not in plan
    assert "hashpartitioning(o_orderkey" not in plan
    tree = plan.split("\n\n")[0]
    fact_join = [
        ln for ln in tree.splitlines() if "ShuffledHashJoin" in ln
    ]
    assert fact_join, tree
    below_join = tree.split("ShuffledHashJoin")[-1]
    # the only allowed exchange below the fact join is the BUILDING
    # customer broadcast feeding the orders side
    for ln in below_join.splitlines():
        if "Exchange" in ln:
            assert "BroadcastExchange" in ln, tree


def test_cbo_reorders_selective_dim_join_first(spark):
    """xs17 (r10): with ANALYZE'd column statistics and spark.sql.cbo.*
    on, the deliberately fact-fact-first SQL is REORDERED by Catalyst's
    join-reorder DP so the selective customer dim joins orders BELOW the
    lineitem join — the shape q3/q5/q7 encode by hand for file scans.
    Pins the optimized logical plan: the customer⋈orders join must be a
    descendant of the lineitem join, not a sibling applied after it."""
    from ida_dataengineerproject_spark.queries.scale_ops import (
        _cbo_catalog_tables,
    )
    from ida_dataengineerproject_spark.session import scoped_conf

    li_n, o_n, c_n = _cbo_catalog_tables(spark, SF_SMOKE)
    q = f"""
    SELECT o.o_orderpriority, COUNT(*) AS n
    FROM {li_n} l
    JOIN {o_n} o ON l.l_orderkey = o.o_orderkey
    JOIN {c_n} c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderpriority
    """
    with scoped_conf(
        spark,
        {
            "spark.sql.cbo.enabled": "true",
            "spark.sql.cbo.joinReorder.enabled": "true",
        },
    ):
        opt = (
            spark.sql(q)._jdf.queryExecution().optimizedPlan().toString()
        )
    # the orderkey (fact-fact) join must sit ABOVE the custkey (dim)
    # join in the reordered tree (toString prints parents first)
    i_fact = opt.index("Join Inner, (l_orderkey#")
    i_dim = opt.index("Join Inner, (o_custkey#")
    assert i_fact < i_dim, opt


def test_inverted_index_probe_pushes_term_filter(spark):
    """xt19: the term probe must reach the posting-file scan as a pushed
    In(token, ...) filter — with postings sorted by token, that is a
    row-group skip, not a posting-table scan."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["xt19_inverted_index_search"](spark, SF_SMOKE))
    assert "In(token, [dup,merge,vector])" in plan


def test_fuzzy_match_has_no_cross_join(spark):
    """x19: deletion-neighborhood blocking must replace the probe x
    catalog cross join — the plan may only contain hash equi-joins."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["x19_fuzzy_entity_match"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dup_span_windows_are_partitioned(spark):
    """xt21: both windows (k-gram assembly by doc, first-occurrence by
    hash) must be partitioned — an unpartitioned window would serialize
    the token stream at 100 TB."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["xt21_dup_span_stats"](spark, SF_SMOKE))
    # no single-partition exchange anywhere: every window/agg keys on
    # doc_id or the gram hash ("SinglePartition" appears in the details
    # section of the formatted plan when present)
    assert "SinglePartition" not in plan, plan


def test_concurrency_global_window_is_days_only(spark):
    """xq5: the only unpartitioned window (carry-in prefix sum) must sit
    above the per-day aggregate — i.e. after a HashAggregate keyed by
    day — never on the raw boundary stream."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["xq5_concurrent_sessions"](spark, SF_SMOKE))
    # exactly one single-partition exchange (the day-level carry); the
    # boundary-stream windows are partitioned by day/user
    assert plan.count("Arguments: SinglePartition") == 1, plan


def test_cumulative_distinct_window_is_post_aggregate(spark):
    """x17: the running-sum window runs over one row per day; the only
    big shuffle keys on user_id (the first-seen groupBy)."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["x17_cumulative_distinct_users"](spark, SF_SMOKE))
    assert plan.count("Arguments: SinglePartition") == 1, plan
    # and it must sit directly above a HashAggregate (post-aggregation
    # day rollup), which the tree order shows as Window over Exchange
    # over HashAggregate
    tree = plan.split("\n\n")[0]
    assert re.search(
        r"Window \(\d+\)\n\s+\+- Sort \(\d+\)\n\s+\+- Exchange \(\d+\)\n\s+\+- HashAggregate",
        tree,
    ), tree


def test_top_paths_uses_takeordered_not_global_sort(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["xq15_top_event_paths"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "Arguments: SinglePartition" not in plan


def test_twav_window_partitioned_by_user_day(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["xq16_time_weighted_value"](spark, SF_SMOKE))
    # the lead() window must key on (user_id, day) — never event_type/day
    # alone (5 resp. ~365 giant partitions at scale)
    assert "PartitionBy: [user_id" in plan.replace("#", " #").split(
        "Window"
    )[1][:400] or "user_id" in plan.split("Arguments: [")[1][:300]
    assert "Arguments: SinglePartition" not in plan


def test_heavy_hitters_single_python_stage_and_broadcast_confirm(spark):
    import __spark_entry__ as e

    df = e.queries()["x26_heavyhitter_bigrams"](spark, SF_SMOKE)
    # executedPlan string lists each node once (formatted mode repeats
    # nodes in the details section)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly one Arrow stage (the MG candidate pass; mapInArrow since
    # r13 — pyarrow value_counts per batch instead of pandas boxing)
    assert plan.count("MapInArrow") + plan.count("MapInPandas") == 1
    # the confirm pass filters via broadcast join, not a shuffle join
    assert "BroadcastHashJoin" in plan
    # the only single-partition exchange allowed is the 1-row global
    # count(*) merge (partial_count per partition, 32 rows in)
    assert plan.count("Exchange SinglePartition") <= 1


def test_balanced_shards_window_is_bucketed(spark):
    import __spark_entry__ as e

    df = e.queries()["xt24_balanced_shards"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # global_rank's row_number partitions by the bucket — the oracle's
    # single-partition ROW_NUMBER must NOT appear
    windows = re.findall(r"Window \[row_number\(\).*", plan)
    assert windows, plan
    for w in windows:
        assert re.search(r" AS \S+\], \[__bucket#\d+\], \[", w), w
    # the single-partition exchanges left are bounded: the keyless
    # min/max probe and the per-bucket counts under the offsets
    assert assert_bounded_single_partition_exchanges(plan) >= 1, plan


def test_scd2_merge_joins_on_natural_key_once(spark):
    import __spark_entry__ as e

    df = e.queries()["x28_scd2_merge_history"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one full-outer join on the natural key; dim-history windows are
    # user-partitioned (no single-task sort)
    assert plan.count("FullOuter") == 1
    assert "Exchange SinglePartition" not in plan


def _nodes(plan: str, op: str) -> int:
    """Physical nodes named `op` — counted via the formatted-explain
    detail headers '(N) Op', one per node."""
    return len(re.findall(rf"\(\d+\) {op}(?:\b|$)", plan, flags=re.M))


def test_pit_feature_join_no_nested_loop(spark):
    """xq35's docstring claims the point-in-time join never degrades to a
    nested-loop/cartesian plan — pin it (the classic as-of failure mode
    is a range-condition join Catalyst can only run as BNLJ)."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["xq35_pit_feature_join"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_golden_record_single_aggregate(spark):
    """x35 survivorship must stay ONE map-side-combined aggregate over the
    cluster key: exactly one shuffle (partial+final agg pair), and no
    Window — no cluster ever sorts or buffers its members."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["x35_golden_record_merge"](spark, SF_SMOKE))
    assert _nodes(plan, "Window") == 0
    aggs = (
        _nodes(plan, "HashAggregate")
        + _nodes(plan, "SortAggregate")
        + _nodes(plan, "ObjectHashAggregate")
    )
    assert aggs == 2  # one logical aggregate = partial + final
    assert _nodes(plan, "Exchange") == 1  # the cluster-key shuffle only


def test_activity_streaks_single_window(spark):
    """xq38 gaps-and-islands must run ONE window pass (the island-id
    assignment); everything after is aggregation — a second window would
    mean a second full sort of the per-user timeline."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["xq38_activity_streaks"](spark, SF_SMOKE))
    assert _nodes(plan, "Window") == 1


def test_fuzzy_match_no_cross_join(spark):
    """x19's docstring claims SymSpell delete-1 blocking replaces the
    probe×catalog cross join — pin it (the oracle IS the cross join, so
    only the plan distinguishes the blocked form from brute force)."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["x19_fuzzy_entity_match"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _plan_no_broadcast(spark, fn, sf_dir):
    """Build fn's executed plan with auto-broadcast disabled so the pin
    captures the at-scale SMJ shape, not the small-input broadcast
    shortcut.  Must receive an UNDECORATED query fn (registry.ORIGINALS)
    — registered wrappers re-harden the session and would re-pin the
    thresholds this helper clears (the r10 debugging trap)."""
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    saved = [spark.conf.get(k, None) for k in keys]
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        return _plan(fn(spark, sf_dir))
    finally:
        for k, v in zip(keys, saved):
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)


def test_q10_bucketed_fact_join_is_exchange_free(spark):
    """tpch_q10_bucketed (r11): the lineitem⋈orders join — the whole
    residual x100 cost after the r10 top-20 restructure — consumes the
    two canonical bucketed scans with zero Exchange below it.  The only
    hash exchange left is the o_custkey revenue aggregate (a different
    key than the bucket key, so it must shuffle — once)."""
    from ida_dataengineerproject_spark.registry import ORIGINALS

    plan = _plan_no_broadcast(
        spark, ORIGINALS["tpch_q10_bucketed"], SF_SMOKE
    )
    assert plan.count("Bucketed: true") == 2
    # r11: bucketed_fact pins shuffle_hash — exchange-free hash join
    assert "ShuffledHashJoin" in plan
    # the fact join must never shuffle on its key — the bucketed scans
    # already satisfy the distribution
    assert "hashpartitioning(l_orderkey" not in plan
    assert "hashpartitioning(o_orderkey" not in plan
    # the one legitimate hash exchange: the o_custkey revenue aggregate
    assert "hashpartitioning(o_custkey" in plan


def _assert_bucketed_fact_join_exchange_free(spark, name, extra=()):
    """Shared pin for the bucketed-family arms (ADVICE r11: q8/q12/q18
    were promoted to production paths with only docstring claims): both
    fact scans bucketed, the orderkey join a ShuffledHashJoin straight
    off them, and NO hashpartitioning exchange on either orderkey — an
    optimizer change reintroducing the exchange fails here, not in a
    bench regression three rounds later."""
    from ida_dataengineerproject_spark.registry import ORIGINALS

    plan = _plan_no_broadcast(spark, ORIGINALS[name], SF_SMOKE)
    assert plan.count("Bucketed: true") == 2, name
    assert "ShuffledHashJoin" in plan, name
    assert "hashpartitioning(l_orderkey" not in plan, name
    assert "hashpartitioning(o_orderkey" not in plan, name
    for token in extra:
        assert token in plan, f"{name}: expected {token!r}\n{plan}"


def test_q5_bucketed_fact_join_is_exchange_free(spark):
    """tpch_q5_bucketed (r12): the ASIA-filtered broadcast dim joins on
    both entry paths preserve the scans' bucketed distribution, so the
    fact join runs exchange-free; the only hash exchange left is the
    5-row nation aggregate."""
    _assert_bucketed_fact_join_exchange_free(
        spark, "tpch_q5_bucketed", extra=("hashpartitioning(n_name",)
    )


def test_q7_bucketed_fact_join_is_exchange_free(spark):
    """tpch_q7_bucketed (r12): nation-pair broadcast reductions on both
    facts preserve bucketing; only the (supp_nation, cust_nation, year)
    aggregate shuffles."""
    _assert_bucketed_fact_join_exchange_free(
        spark, "tpch_q7_bucketed", extra=("hashpartitioning(supp_nation",)
    )


def test_q8_bucketed_fact_join_is_exchange_free(spark):
    """tpch_q8_bucketed (ADVICE r11): the part broadcast join on the
    lineitem side must PRESERVE the scan's bucketed output partitioning
    — previously asserted only in the docstring."""
    _assert_bucketed_fact_join_exchange_free(
        spark, "tpch_q8_bucketed", extra=("hashpartitioning(o_year",)
    )


def test_q12_bucketed_fact_join_is_exchange_free(spark):
    """tpch_q12_bucketed (ADVICE r11): the slimmed orders projection
    (priority→bool, date+90d) must not cost the bucketed distribution;
    only the 3-row returnflag aggregate shuffles."""
    _assert_bucketed_fact_join_exchange_free(
        spark,
        "tpch_q12_bucketed",
        extra=("hashpartitioning(l_returnflag",),
    )


def test_q18_bucketed_fact_join_is_exchange_free(spark):
    """tpch_q18_bucketed (ADVICE r11): BOTH the per-order quantity
    aggregate and the orders join key the bucket key — neither may
    shuffle (the q21 shape)."""
    _assert_bucketed_fact_join_exchange_free(spark, "tpch_q18_bucketed")


def test_x01_bucketed_dedup_window_is_exchange_free(spark):
    """x01_bucketed (r12): the content-addressed documents layout — a
    STORED md5(text) hash column, bucketed on it — must satisfy the
    dedup window's hash-grain partitioning straight off the scan: ZERO
    hashpartitioning exchanges anywhere (the plain arm's only shuffle
    is exactly this one)."""
    from ida_dataengineerproject_spark.registry import ORIGINALS

    plan = _plan_no_broadcast(spark, ORIGINALS["x01_bucketed"], SF_SMOKE)
    assert plan.count("Bucketed: true") == 1
    assert "hashpartitioning(hash_registro" not in plan
    assert "Arguments: hashpartitioning" not in plan


def test_x01b_bucketed_dedup_window_is_exchange_free(spark):
    """x01b_bucketed (r12): the normalized-dedup window consumes the
    same fingerprint-bucketed store as xt12_bucketed — zero
    hashpartitioning exchanges."""
    from ida_dataengineerproject_spark.registry import ORIGINALS

    plan = _plan_no_broadcast(spark, ORIGINALS["x01b_bucketed"], SF_SMOKE)
    assert plan.count("Bucketed: true") == 1
    assert "Arguments: hashpartitioning" not in plan


def test_xt12_bucketed_anti_join_is_exchange_free(spark):
    """xt12_bucketed (r12): both anti-join sides are snapshots of the
    SAME fingerprint-bucketed store, so the LEFT ANTI on fp and the
    reference-side distinct both consume the bucketed scans with no
    hashpartitioning exchange anywhere."""
    from ida_dataengineerproject_spark.registry import ORIGINALS

    plan = _plan_no_broadcast(spark, ORIGINALS["xt12_bucketed"], SF_SMOKE)
    assert plan.count("Bucketed: true") == 2
    assert "Arguments: hashpartitioning" not in plan


def test_q21_bucketed_order_grain_agg_is_exchange_free(spark):
    """tpch_q21_bucketed (r11): BOTH the lineitem⋈orders join and the
    order-grain groupBy(l_orderkey) key the facts' at-rest bucket key,
    so partial and final aggregate run back-to-back with NO Exchange
    between them and none below — the only shuffles left carry the tiny
    multi-supplier-late survivor set (s_name grain + final sort)."""
    from ida_dataengineerproject_spark.registry import ORIGINALS

    plan = _plan_no_broadcast(
        spark, ORIGINALS["tpch_q21_bucketed"], SF_SMOKE
    )
    assert plan.count("Bucketed: true") == 2
    # neither the join nor the order-grain aggregate may shuffle on the
    # bucket key — the scans already satisfy both distributions
    assert "hashpartitioning(l_orderkey" not in plan
    assert "hashpartitioning(o_orderkey" not in plan
    # the only hash exchange left carries the tiny survivor set
    assert "hashpartitioning(s_name" in plan
