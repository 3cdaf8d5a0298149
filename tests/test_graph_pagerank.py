"""x16 PageRank: bit-equality against a pure-Python reference that uses
the same scaled-integer summation, on a small synthetic bipartite graph
— pins BOTH the algorithm and the exactness scheme independently of the
DuckDB oracle (same philosophy as the Morton-key reference tests)."""

from __future__ import annotations

import math


def _pagerank_ref(pairs: list[tuple[int, int]], iters: int = 3):
    edges = []
    for p, s in set(pairs):
        edges.append((p * 2, s * 2 + 1))
        edges.append((s * 2 + 1, p * 2))
    deg: dict[int, int] = {}
    for src, _dst in edges:
        deg[src] = deg.get(src, 0) + 1
    n = len(deg)
    ranks = {node: 1.0 / n for node in deg}
    for _ in range(iters):
        sums: dict[int, int] = {}
        for src, dst in edges:
            c = int(math.floor((ranks[src] / deg[src]) * 1e18))
            sums[dst] = sums.get(dst, 0) + c
        ranks = {
            node: 0.15 / n + 0.85 * (float(s) / 1e18)
            for node, s in sums.items()
        }
    return ranks, deg


def test_pagerank_matches_python_reference_bitwise(spark, tmp_path):
    from ida_dataengineerproject_spark.queries.graph_ops import (
        pagerank_bipartite,
    )

    pairs = [
        (1, 1), (1, 2), (2, 1), (3, 1), (3, 2), (3, 3), (4, 3), (5, 3),
        (2, 2), (2, 1),  # duplicate pair must collapse
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        pairs, "l_partkey long, l_suppkey long"
    ).write.parquet(sf + "/lineitem.parquet")

    got = {r["node"]: r for r in pagerank_bipartite(spark, sf).collect()}
    ref_ranks, ref_deg = _pagerank_ref(pairs)
    assert len(got) == len(ref_ranks) <= 20
    for node, r in got.items():
        assert r["rank"] == ref_ranks[node], node  # bit-exact
        assert r["degree"] == ref_deg[node]
        assert r["node_type"] == ("part" if node % 2 == 0 else "supplier")
    # mass conservation up to the documented floor truncation
    total = sum(ref_ranks.values())
    assert 0.999 < total <= 1.0000001


def _naive_triangles(edges):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    cnt = 0
    for a, b in edges:
        cnt += len(adj[a] & adj[b])
    return cnt // 3  # each triangle seen once per edge


def test_count_triangles_matches_naive_on_skewed_graph(spark):
    from ida_dataengineerproject_spark.operators.graph import count_triangles

    # hub node 0 connected to everyone (celebrity skew), plus a ring and
    # chords: exercises the degree-orientation path on unequal degrees
    edges = [(0, i) for i in range(1, 30)]
    edges += [(i, i + 1) for i in range(1, 29)]
    edges += [(i, i + 2) for i in range(1, 28, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = count_triangles(df).collect()[0]["n_triangles"]
    assert got == _naive_triangles(edges)


def test_count_triangles_k4_plus_pendant(spark):
    from ida_dataengineerproject_spark.operators.graph import count_triangles

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    df = spark.createDataFrame(k4, "src long, dst long")
    assert count_triangles(df).collect()[0]["n_triangles"] == 4


def test_count_triangles_arm_selection_pre_build(spark):
    """The broadcast/shuffle handoff must be decided BEFORE the adjacency
    materializes (r8: at x100 the hash-aggregate build OOMed a 16 g JVM
    before the old post-build gate could choose the shuffle arm).
    Forcing the huge regime (broadcast_limit_bytes=0) on a small graph
    must (a) still count exactly, (b) produce a final plan with NO
    broadcast hash join on the adjacency, and (c) leave the scoped
    sort-aggregate conf restored afterwards.  The input carries
    self-loops, which violate the simple-graph contract: both regimes
    must ignore them alike, so the count cannot depend on which side of
    the size gate the input lands.  (d) The huge regime runs no
    post-build gate job, since its adjacency can never be broadcast:
    building the frame takes 11-12 jobs here, 14 with that gate."""
    from ida_dataengineerproject_spark.operators.graph import count_triangles

    conf_key = "spark.sql.execution.useObjectHashAggregateExec"
    before = spark.conf.get(conf_key)
    simple = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 1), (2, 4), (5, 6)]
    df = spark.createDataFrame(
        simple + [(1, 1), (3, 3), (4, 4), (5, 5)], "src long, dst long"
    )

    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    first = scheduler.nextJobId()
    tri_shuffle = count_triangles(df, broadcast_limit_bytes=0)
    assert scheduler.nextJobId() - first <= 12
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        tri_shuffle.explain("formatted")
    assert "BroadcastHashJoin" not in buf.getvalue()
    assert tri_shuffle.collect()[0]["n_triangles"] == _naive_triangles(simple)
    assert spark.conf.get(conf_key) == before  # scoped conf restored

    tri_bcast = count_triangles(df)  # default limit: broadcast arm
    buf2 = io.StringIO()
    with redirect_stdout(buf2):
        tri_bcast.explain("formatted")
    assert "BroadcastHashJoin" in buf2.getvalue()
    assert tri_bcast.collect()[0]["n_triangles"] == _naive_triangles(simple)


def test_adjacency_build_sort_based_under_scoped_conf(spark):
    """The huge-regime build relies on scoped
    useObjectHashAggregateExec=false turning collect_list into a
    SortAggregate (one group's array in memory at a time).  Pin that the
    conf actually flips the physical aggregate on this Spark build —
    if an upgrade ignores it, the x100 memory posture silently reverts."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from ida_dataengineerproject_spark.session import scoped_conf

    df = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4)], "u long, v long"
    )

    def build():
        # fresh frame each time: a DataFrame memoizes its physical plan,
        # so the conf must be live when the plan is FIRST materialized —
        # exactly the ordering count_triangles' huge arm relies on
        return df.groupBy("u").agg(F.collect_list("v").alias("nbrs"))

    buf = io.StringIO()
    with redirect_stdout(buf):
        build().explain("formatted")
    assert "ObjectHashAggregate" in buf.getvalue()

    with scoped_conf(
        spark, {"spark.sql.execution.useObjectHashAggregateExec": "false"}
    ):
        buf2 = io.StringIO()
        with redirect_stdout(buf2):
            build().explain("formatted")
        s = buf2.getvalue()
        assert "SortAggregate" in s and "ObjectHashAggregate" not in s
