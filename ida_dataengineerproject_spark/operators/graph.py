"""Connected components over an edge list — the clustering step that
turns near-dup *pairs* (MinHash-LSH / SimHash / Jaccard output) into
dedup *groups*, so a pipeline can keep one canonical document per
component.

The reference deduplicates only by exact hash identity (ON CONFLICT DO
NOTHING, etl/etl_ida.py:534); component-level dedup is the scale
generalization the driver's north star asks for.

Algorithm: iterative min-label propagation (the dataframe form of
large-star/small-star, Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14).  Each round every node adopts the
minimum label among itself and its neighbors; rounds = O(component
diameter), which for dedup graphs (dense clusters of mutated copies) is
tiny (2-4).  Each round is one shuffle keyed on node id; labels are
checkpointed per round so the plan/lineage stays O(1) instead of
O(rounds)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize, scoped_conf


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Return (node, component) where component = min node id reachable.

    ``edges`` is undirected (each pair once is fine).  Driver loop with a
    per-round convergence action — acceptable because rounds are bounded
    by graph diameter, not data size; every per-round job is fully
    distributed (no collect of nodes/edges)."""
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionAll(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    sym = materialize(sym)

    labels = materialize(
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )

    for _ in range(max_iter):
        # min neighbor label per node, via one hash-shuffle on node id
        neighbor_min = (
            sym.join(labels, sym.v == labels.node)
            .groupBy("u")
            .agg(F.min("comp").alias("nmin"))
        )
        new_comp = F.least(
            F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))
        )
        # the change flag rides along in the SAME select (old comp is
        # already in scope), so convergence costs one scan of the
        # checkpoint — not a second labels-vs-labels join job per round
        staged = materialize(
            labels.join(neighbor_min, labels.node == neighbor_min.u, "left")
            .select(
                "node",
                new_comp.alias("comp"),
                (new_comp < F.col("comp")).alias("chg"),
            )
        )
        changed = staged.filter("chg").limit(1).count()
        labels = staged.drop("chg")
        if changed == 0:
            break
    return labels


def count_triangles(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    edges_unique: bool = True,
    with_graph_stats: bool = False,
    broadcast_limit_bytes: int = 256 << 20,
) -> DataFrame:
    """Exact triangle count of an undirected simple graph — one row,
    column ``n_triangles`` (plus ``n_nodes``/``n_edges`` when
    ``with_graph_stats``).  Self-loop rows are ignored (a u→u row closes
    no triangle and adds no edge or node); with ``edges_unique`` each
    undirected edge appears once (either direction), with
    ``edges_unique=False`` duplicate pairs are allowed and dedup is
    folded into the adjacency build (a ``collect_set`` in the shuffle
    that builds it anyway) — one full distinct pass saved.

    Degree-ordered orientation (Cohen's MapReduce scheme): orient every
    edge from its lower-(degree, id) endpoint to the higher, making the
    orientation acyclic with out-degrees bounded by ~sqrt(2m) regardless
    of degree skew — a celebrity node no longer contributes deg^2 work.
    (Small regime ranks by SIMPLE degree, huge regime by MULTIGRAPH
    degree — both are consistent total orders, so the count is exact
    either way; the huge-regime bound degrades to ~sqrt(2m') for
    m' = multi-edge count.)

    Counting uses the edge-adjacency-intersection form rather than wedge
    enumeration: for each oriented edge (u→v), triangles whose lowest-
    ranked vertex is u close through |N+(u) ∩ N+(v)| (the third vertex
    is out-of u AND out-of v; the other two edges of the triangle point
    rank-upward so they count it nowhere else).  Total work is the same
    Σ outdeg² <= m^1.5, but it flows through m rows carrying bounded
    (<= ~sqrt(2m)-entry) adjacency arrays with a codegen array_intersect
    per row, instead of materializing Σ outdeg² wedge ROWS into a
    shuffle join.

    BUILD SHAPE IS REGIME-HYBRID (r13), gated BEFORE anything
    adjacency-sized materializes on ``m_raw·16`` bytes from one cheap
    count of the checkpointed edge snapshot (the r8 lesson: at x100 a
    220 M-entry hash aggregate OOMed a 16 g JVM before a post-build
    gate could act):

    - SMALL regime (raw pairs within ``broadcast_limit_bytes``): the
      degree pass is FUSED into the adjacency build — ONE node-keyed
      shuffle over both edge directions builds the FULL adjacency
      (``collect_set`` dedups multi-edges in the same exchange), degree
      is ``size(nbrs)``, and orientation explodes the grouped frame,
      attaches the neighbor's degree via one size-gated join against
      the node-bounded (node, deg) projection, and regroups the
      rank-upward half (guide §2.4: operations keyed the same way share
      an exchange).  Measured sf0.1: first run 6.70 → 4.12 s (the
      separate degree aggregate + two degree-attach joins and their
      codegen are gone), warm 3.39 → 3.17 s, results bit-identical.
    - HUGE regime: the r6-r12 shape — a partial-aggregated degree pass
      (map-side combine shrinks the degree shuffle to ~|nodes| rows,
      which a ``collect_*`` CANNOT do), two degree-attach joins on the
      edge snapshot, then ONE oriented-adjacency build as a SORT-based
      aggregate (scoped ``useObjectHashAggregateExec=false``: the hash
      form holds every open group's buffer per task — the whole graph
      in heap across concurrent tasks — while the sort form keeps one
      group (≤ ~sqrt(2m) entries) at a time and its shuffle sort
      spills).  The fused form was A/B'd at the x100 replica and LOST
      (114.3 → 150.5 s best-of-2 + GCLocker pressure): building the
      2m'-entry FULL adjacency through a sort aggregate shuffles and
      sorts every directed copy, exactly the partial-aggregation saving
      the degree pass exists to keep — so the fusion is gated to the
      regime where it wins.

    Intersect-join strategy: the small regime uses the exact post-build
    numbers (n_nodes, Σdeg ⇒ m): ``adj_bytes = m·16 + n·64`` under the
    limit broadcasts the v-side adjacency (the Σ outdeg² array
    duplication never crosses a shuffle — measured sf0.1 0.4 s vs 3.4 s
    for the sort-merge form); above it, a plain shuffle equi-join
    (Cohen's Σ outdeg² shuffle bound — the 100 TB path; nothing
    data-sized is broadcast).  The huge regime always takes the shuffle
    join: its ``adj_bytes`` exceeds ``m_raw·16``, which chose it.

    An Arrow ``mapInPandas`` batch-intersection (row-offset keys +
    ``np.intersect1d``) was measured SLOWER than codegen array_intersect
    in both regimes (broadcast: 1.7-1.9 s vs 0.4 s; shuffle: 2.4 s vs
    2.0 s at sf0.1) — the per-batch flatten/sort outweighs the hash-set
    probes it replaces; probe committed in ROUND_NOTES round 7.
    """
    spark = edges.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    # self-loops dropped once, here, so both build regimes agree: the
    # huge regime would keep a u→u row as an oriented edge and count
    # phantom triangles, the small regime's rank_up would drop it
    und = edges.select(
        F.col(src).alias("p1"), F.col(dst).alias("p2")
    ).where(F.col("p1") != F.col("p2"))
    # two consumers in either regime — materialize once (at x100 this
    # is the 10⁸-row snapshot behind session.materialize's storage level)
    und = materialize(und)
    # pre-build gate number: a count over executor-local blocks (~0.1 s
    # of job overhead at sf0.1) — the only number needed before the
    # build-shape decision
    m_raw = und.count()
    fused = m_raw * 16 <= broadcast_limit_bytes

    if fused:
        # ---- small regime: degree pass fused into the adjacency build
        sym = und.select(
            F.col("p1").alias("n"), F.col("p2").alias("v")
        ).unionAll(und.select(F.col("p2").alias("n"), F.col("p1").alias("v")))
        gather = F.collect_list if edges_unique else F.collect_set
        # three consumers (gate numbers, degree side, adjacency build);
        # rebuilding it per consumer was slower at sf0.1: x24 7.7 → 9.4 s,
        # in 6 of 6 interleaved pairs
        full = materialize(
            sym.groupBy("n")
            .agg(gather("v").alias("nbrs"))
            .withColumn("deg", F.size("nbrs"))
            # round-robin spread keeps the downstream compute-heavy
            # array stages at full parallelism (byte-based AQE coalesce
            # would squash these byte-light array rows onto ~3 tasks)
            .repartition(parallelism)
        )
        # exact gate numbers: every simple undirected edge contributes
        # 2 to Σdeg of the full adjacency
        _gate = full.agg(
            F.count("*").alias("n"), F.sum("deg").alias("sd")
        ).first()
        n_nodes_m = int(_gate["n"])
        n_edges_m = int(_gate["sd"] or 0) // 2
        adj_bytes = n_edges_m * 16 + n_nodes_m * 64
        broadcast_adj = adj_bytes <= broadcast_limit_bytes

        degf = full.select(F.col("n").alias("v"), F.col("deg").alias("deg_v"))
        if n_nodes_m * 64 <= broadcast_limit_bytes:
            degf = F.broadcast(degf)
        rank_up = (F.col("deg") < F.col("deg_v")) | (
            (F.col("deg") == F.col("deg_v")) & (F.col("n") < F.col("v"))
        )
        adj = materialize(
            full.select("n", "deg", F.explode("nbrs").alias("v"))
            .join(degf, "v")
            .where(rank_up)
            .groupBy("n")
            .agg(F.collect_list("v").alias("nbrs"))
            .repartition(parallelism)
        )
        n_nodes = full.agg(F.count("*").alias("n_nodes"))
        adj_u = F.col("n")
    else:
        # ---- huge regime: r6-r12 shape (partial-aggregated degree
        # pass + degree-attach joins + sort-aggregate oriented build)
        # node-bounded; consumed by BOTH orientation joins (and the
        # n_nodes arm) — without this the aggregation runs per consumer
        deg = materialize(
            und.select(F.col("p1").alias("node"))
            .unionByName(und.select(F.col("p2").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        d1 = deg.withColumnRenamed("node", "p1").withColumnRenamed("deg", "deg1")
        d2 = deg.withColumnRenamed("node", "p2").withColumnRenamed("deg", "deg2")
        ed = und.join(d1, "p1").join(d2, "p2")
        lower_first = (F.col("deg1") < F.col("deg2")) | (
            (F.col("deg1") == F.col("deg2")) & (F.col("p1") < F.col("p2"))
        )
        oriented = ed.select(
            F.when(lower_first, F.col("p1")).otherwise(F.col("p2")).alias("u"),
            F.when(lower_first, F.col("p2")).otherwise(F.col("p1")).alias("v"),
        )
        # every und row adds 2 to Σdeg, so adj_bytes = 16·m_raw +
        # 64·n_nodes, already over the limit that chose this regime: the
        # adjacency is never broadcast, and as the largest object in the
        # job it is built with the sort-based aggregate.  The frame is
        # made inside the scope — a DataFrame memoizes its physical
        # plan, so the conf must be live when the plan is first made
        gather = F.collect_list if edges_unique else F.collect_set
        sort_agg = {"spark.sql.execution.useObjectHashAggregateExec": "false"}
        with scoped_conf(spark, sort_agg):
            adj = materialize(
                oriented.groupBy("u")
                .agg(gather("v").alias("nbrs"))
                .repartition(parallelism)
            )
        n_nodes = deg.agg(F.count("*").alias("n_nodes"))
        adj_u = F.col("u")
        broadcast_adj = False

    # recover each oriented edge (u→v) WITH u's adjacency attached by
    # exploding the adjacency itself — one join saved vs joining the
    # edge list back to adj on u
    per_edge = adj.select(
        F.col("nbrs").alias("nbrs_u"), F.explode("nbrs").alias("v")
    )
    a_v = adj.select(adj_u.alias("v"), F.col("nbrs").alias("nbrs_v"))
    if broadcast_adj:
        a_v = F.broadcast(a_v)
    counted = (
        per_edge.join(a_v, "v")  # inner: v without out-edges closes nothing
        .select(F.size(F.array_intersect("nbrs_u", "nbrs_v")).alias("c"))
    )
    tri = counted.agg(F.sum("c").cast("long").alias("n_triangles"))
    if not with_graph_stats:
        return tri
    # free-riding stats: every node touches an edge, so n_nodes = rows
    # of the full adjacency (small) / degree table (huge); n_edges =
    # Σ out-degrees of the deduped oriented adjacency
    n_edges = adj.agg(F.sum(F.size("nbrs")).cast("long").alias("n_edges"))
    return (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select("n_nodes", "n_edges", "n_triangles")
    )
