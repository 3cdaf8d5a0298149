"""Iterative graph analytics (round 5b): fixed-iteration PageRank over
the part<->supplier co-occurrence graph, oracle-exact across engines.

The iterative-algorithm pattern x02d (connected components) established
— bounded rounds, one shuffle per round, no driver-side data — applied
to a numeric fixpoint.  The cross-engine trap is float SUMMATION order:
per-edge contributions are IEEE-deterministic (same divisions on the
same inputs), but adding them in different orders drifts the last bits.
Fix: scale each contribution to an integer (floor(c * 1e18)) and SUM
integers — order-independent — then return to double for the damping
step.  Ranks therefore match DuckDB bit-for-bit with zero tolerance,
the same exact-decimal philosophy as functions/aggs.py.

Graph: node ids namespaced by parity (part p -> 2p, supplier s ->
2s+1), one edge each way per distinct (l_partkey, l_suppkey) pair —
every node has out-degree >= 1 (it appeared in lineitem), so there are
no dangling nodes and no rank sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..session import materialize, scoped_conf
from ..sources.tables import table

_DAMP = 0.85
_ITERS = 3
_SCALE = 1e18


def _oracle_sql() -> str:
    """Unrolled PageRank oracle: r0 .. r{_ITERS} as chained CTEs, each
    iteration the same scaled-integer sum the Spark side computes."""
    parts = [
        """
    WITH pairs AS (
        SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    edges AS (
        SELECT p * 2 AS src, s * 2 + 1 AS dst FROM pairs
        UNION ALL
        SELECT s * 2 + 1 AS src, p * 2 AS dst FROM pairs),
    deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
    n AS (SELECT count(*) AS nd FROM deg),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nd AS rank FROM deg, n)
    """
    ]
    for i in range(_ITERS):
        parts.append(
            f""",
    r{i + 1} AS (
        SELECT e.dst AS node,
               (0.15 / nd) + {_DAMP} * (
                   CAST(CAST(SUM(CAST(floor((r.rank / d.deg) * {_SCALE})
                                     AS BIGINT)) AS BIGINT) AS DOUBLE)
                   / {_SCALE}) AS rank
        FROM edges e
        JOIN r{i} r ON e.src = r.node
        JOIN deg d ON e.src = d.node, n
        GROUP BY e.dst, nd)
    """
        )
    parts.append(
        f"""
    SELECT CAST(r.node AS BIGINT) AS node,
           CASE WHEN r.node % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
           CAST(d.deg AS BIGINT) AS degree,
           r.rank
    FROM r{_ITERS} r JOIN deg d ON r.node = d.node
    ORDER BY r.rank DESC, r.node LIMIT 20
    """
    )
    return "".join(parts)


@register("x16_pagerank_bipartite", _oracle_sql())
def pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 nodes of a 3-iteration damped PageRank (d = 0.85)
    over the bipartite part<->supplier graph of distinct lineitem pairs.

    Per iteration: ONE join of edges against the current rank vector on
    src and ONE aggregate on dst — both keyed on node id, so at scale a
    single co-partitioning of edges serves every round (the same
    round-structure argument as x02d's label propagation); rounds are
    fixed, not data-dependent.  Contributions sum as scaled integers so
    the result is engine-exact (see module docstring).  100 TB: edges
    shuffle once per round, ranks are O(nodes) << O(edges), and the
    top-20 is a TakeOrderedAndProject, never a global sort."""
    li = table(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    edges = pairs.select(
        (F.col("p") * 2).alias("src"), (F.col("s") * 2 + 1).alias("dst")
    ).unionByName(
        pairs.select(
            (F.col("s") * 2 + 1).alias("src"), (F.col("p") * 2).alias("dst")
        )
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("deg")).withColumnRenamed(
        "src", "node"
    )
    n = deg.agg(F.count("*").alias("nd"))

    ranks = deg.crossJoin(F.broadcast(n)).select(
        "node", (F.lit(1.0) / F.col("nd")).alias("rank")
    )
    for _ in range(_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .drop("node")
            .join(deg, edges.src == deg.node)
            .select(
                "dst",
                F.floor((F.col("rank") / F.col("deg")) * _SCALE)
                .cast("long")
                .alias("c"),
            )
        )
        ranks = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .crossJoin(F.broadcast(n))
            .select(
                F.col("dst").alias("node"),
                (
                    F.lit(0.15) / F.col("nd")
                    + F.lit(_DAMP) * (F.col("s").cast("double") / F.lit(_SCALE))
                ).alias("rank"),
            )
        )
    return (
        ranks.join(deg.withColumnRenamed("deg", "degree"), "node")
        .select(
            "node",
            F.when(F.col("node") % 2 == 0, "part")
            .otherwise("supplier")
            .alias("node_type"),
            "degree",
            "rank",
        )
        .orderBy(F.desc("rank"), "node")
        .limit(20)
    )


@register(
    "x24_triangle_count",
    """
    WITH pr AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (
        SELECT DISTINCT a.p AS p1, b.p AS p2
        FROM pr a JOIN pr b ON a.o = b.o AND a.p < b.p),
    nodes AS (
        SELECT COUNT(DISTINCT x) AS n_nodes FROM (
            SELECT p1 AS x FROM e UNION ALL SELECT p2 FROM e)),
    tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM e e1
        JOIN e e2 ON e2.p1 = e1.p2
        JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2)
    SELECT nodes.n_nodes,
           (SELECT COUNT(*) FROM e) AS n_edges,
           tri.n_triangles
    FROM nodes, tri
    """,
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count of the part co-order graph (parts are
    adjacent iff some order contains both), one row: n_nodes, n_edges,
    n_triangles.

    The scale trap in triangle counting is wedge explosion: joining the
    adjacency list with itself on the shared endpoint enumerates
    sum(deg(v)^2) wedges, and one celebrity node quadratically dominates
    the whole job.  The standard fix (degree-ordered orientation —
    Cohen's MapReduce formulation, also MGT/'arboricity' counting):
    orient every undirected edge from its lower-(degree, id) endpoint to
    the higher; every node's OUT-degree is then bounded by ~sqrt(m), so
    the wedge join enumerates sum(outdeg^2) <= m^1.5 candidates instead,
    independent of skew.  Each triangle has exactly one node with out-
    edges to the other two under this acyclic orientation, so counting
    (u->v, u->w, v->w) with rank(v) < rank(w) counts each triangle
    exactly ONCE — the DuckDB oracle counts the same triangles the naive
    a<b<c way, so the equality is itself the correctness proof of the
    orientation argument.

    Plan shape: one bounded per-order self-join (order line counts are
    bounded, so pair fan-out per order is bounded) feeds RAW pairs
    straight into operators/graph.py::count_triangles with
    ``edges_unique=False`` — pair dedup rides the collect_set shuffle
    that builds the oriented adjacency anyway (one full distinct pass
    saved), orientation ranks by multigraph degree (still a consistent
    total order → exact count; bound sqrt(2m') for m' = raw pair count,
    1.8x m in this data), and the intersect join is size-adaptive
    (broadcast under 256 MB of materialized adjacency, Cohen's Σoutdeg²
    shuffle join above).  n_nodes/n_edges free-ride the internal degree
    table and adjacency instead of a third pass over an edge snapshot.

    This query's per-row compute density (array_intersect over ~70-entry
    arrays) is ~100x its byte density, so it opts into parallelism-first
    AQE coalescing for its own execution (byte-sized coalesce — the
    repo-wide default, measured better everywhere else — squashes the
    2.2M-pair distinct/agg stages onto 3 of 32 cores here; measured
    6.0 -> 4.0 s at sf0.1).  The conf is SCOPED (session.scoped_conf):
    because AQE reads confs at execution time, the whole query executes
    eagerly inside the scope — the final frame is ONE row, so the
    materialization is bounded — and the previous value
    is restored in a finally, never leaking to other workloads on the
    session."""
    li = table(spark, sf_dir, "lineitem")
    # no (o, p) pre-distinct: duplicate lines of the same part in one
    # order only duplicate PAIRS, and count_triangles' fused dedup
    # subsumes that — the pre-distinct would add a full shuffle of the
    # fact projection (measured 8.5 -> 7.4 s at sf0.1)
    pr = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    a, b = pr.alias("a"), pr.alias("b")
    pairs = a.join(
        b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p"))
    ).select(F.col("a.p").alias("p1"), F.col("b.p").alias("p2"))
    from ..operators.graph import count_triangles

    with scoped_conf(
        spark,
        {"spark.sql.adaptive.coalescePartitions.parallelismFirst": "true"},
    ):
        out = count_triangles(
            pairs, "p1", "p2", edges_unique=False, with_graph_stats=True
        )
        return materialize(out)
