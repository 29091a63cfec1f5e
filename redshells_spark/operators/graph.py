"""Distributed PageRank via relational power iteration.

Second iterative-graph operator next to
`dedup/minhash.py:connected_components_dedup` (hash-min + pointer
doubling). PageRank is the classic "iterate a join until convergence"
workload; expressed relationally each step is

    r_{t+1}(v) = (1-d)/N + d * Σ_{(u,v) ∈ E} r_t(u) / deg(u)

i.e. ONE join (edges × current ranks, co-partitioned on the source
key) and ONE aggregation (sum per destination) — both standard
shuffles Catalyst/AQE can plan, no driver-side adjacency structures.

Scale shape:

- the edge list is the only large relation; degrees are computed once
  and joined in (at 1000 executors this is the same edges-shuffle
  every distributed PageRank does — Pregel included);
- |V|-row vectors (ranks, labels, frontiers, walk counts) of at most
  ``MAX_BROADCAST_ROWS`` rows are broadcast into the edge joins, so the
  edge relation itself is never shuffled; larger ones fall back to a
  shuffle join. Each vector's size is observed while it is pinned
  (:func:`~redshells_spark.operators.observe.pin_count`), never by a
  separate ``count()`` job;
- lineage is cut with ``localCheckpoint`` on a fixed cadence, the same
  guard the connected-components loop needed: without it the plan
  doubles per iteration and the optimizer chokes long before the data
  does;
- every PageRank iterate is rounded to 10 decimals: double summation is
  order-dependent (~1e-17 noise per step), and the rounding makes the
  fixpoint bit-reproducible — this is what lets the DuckDB oracle
  unroll the same iterations as CTEs and hash-MATCH
  (``pagerank_copurchase``).

Dangling nodes: callers should symmetrize the edge list (or otherwise
guarantee every node has out-degree ≥ 1); with dangling nodes the
redistribution term would need a per-iteration global sum — supported
nowhere in the oracle, so the operator asserts instead of guessing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from redshells_spark.operators.observe import pin_count

# largest |V|-row vector broadcast into an edge join
MAX_BROADCAST_ROWS = 1_000_000


def _bcast(df: DataFrame, n_rows: int) -> DataFrame:
    """Broadcast hint for an ``n_rows``-row relation that fits the cap."""
    return F.broadcast(df) if n_rows <= MAX_BROADCAST_ROWS else df


def _materialize_edges(edges: DataFrame, *extra: Column) -> DataFrame:
    """Bound the per-superstep cost of re-reading the edge relation:
    a DERIVED edge plan (joins/dedups — the usual caller shape) is
    eagerly localCheckpoint-ed so each superstep re-reads materialized
    rows, but an ALREADY-CACHED relation (the shared per-session edge
    caches) is left alone — its supersteps hit the InMemoryTableScan
    directly, and a second eager materialization is pure duplicate
    work (~0.3-0.5s per query on the sf0.1 co-purchase graph).
    ``extra`` columns (e.g. a weight cast) ride along in the projection."""
    from pyspark.storagelevel import StorageLevel

    proj = edges.select("src", "dst", *extra)
    if edges.storageLevel != StorageLevel.NONE:
        return proj
    return proj.localCheckpoint(eager=True)


def symmetrize_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected view of a directed edge list: E ∪ Eᵀ, deduplicated.
    Guarantees out-degree ≥ 1 for every node that appears at all."""
    fwd = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    return fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).dropDuplicates()


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    assume_no_dangling: bool = False,
) -> DataFrame:
    """→ (node, rank) after ``iterations`` synchronous power steps from
    the uniform vector, each iterate rounded to 10 decimals and pinned
    every 5 steps. ``edges`` must be (src, dst) with every node
    having out-degree ≥ 1 (see :func:`symmetrize_edges`; callers that
    just symmetrized can pass ``assume_no_dangling=True`` to skip the
    verification pass)."""
    # the degree vector is |V| rows — materialize IT once (one |E|
    # aggregate), not the |E|-row edges⋈degree join the round-8 form
    # checkpointed per invocation: in broadcast mode the degree rides
    # inside the broadcast rank vector, so the (huge) edge relation is
    # consumed as-is — no join materialization, no shuffle of edges
    edges = _materialize_edges(edges)
    deg, n = pin_count(
        edges.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("deg"))
    )
    nodes = deg.select(F.col("src").alias("node"))  # out-degree ≥ 1 ⇒ nodes ≡ deg keys
    if not assume_no_dangling:
        # every dst must also appear as a src
        dangling = (
            edges.select(F.col("dst").alias("node"))
            .dropDuplicates()
            .join(nodes, on="node", how="left_anti")
            .limit(1)
            .count()
        )
        if dangling:
            raise ValueError(
                "pagerank: edge list has dangling nodes (dst never appears as src); "
                "symmetrize_edges() or add self-loops first"
            )

    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    base = (1.0 - damping) / n

    # the rank vector is |V| rows — tiny next to |E|. Broadcasting it
    # (joined with deg, still |V|) keeps the edge relation UN-shuffled
    # across all iterations (the only shuffle left is the per-dst
    # partial-sum aggregate); above the cap fall back to the
    # materialized edges⋈degree shuffle join, the Pregel-at-scale shape
    broadcast_ranks = n <= MAX_BROADCAST_ROWS
    if not broadcast_ranks:
        wedges = edges.join(deg, on="src").localCheckpoint(eager=True)

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for it in range(iterations):
        rank_src = ranks.withColumnRenamed("node", "src")
        if broadcast_ranks:
            joined = edges.join(F.broadcast(rank_src.join(deg, on="src")), on="src")
        else:
            joined = wedges.join(rank_src, on="src")
        contrib = joined.groupBy("dst").agg(
            F.sum(F.col("rank") / F.col("deg")).alias("contrib")
        )
        # no dangling nodes ⇒ every node receives at least one
        # contribution, so the inner-join result covers all nodes
        ranks = contrib.select(
            F.col("dst").alias("node"),
            F.round(F.lit(base) + F.lit(damping) * F.col("contrib"), 10).alias("rank"),
        )
        if (it + 1) % 5 == 0:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def count_triangles_per_node(edges: DataFrame) -> DataFrame:
    """→ (node, n_triangles) from an undirected edge list given as
    ordered distinct pairs (src < dst).

    Enumeration is the two-join id-ordered wedge closure: (a,b)⋈(b,c)
    gives wedges with a<b<c, closed against (a,c) — each triangle
    appears exactly once. Both joins are plain equi-joins Catalyst can
    shuffle-plan; wedge volume is Σ_b deg⁺(b)² under the id order. The
    standard at-scale refinement — orienting edges from low to high
    DEGREE instead of id, which provably minimizes Σ deg⁺² — changes
    node *ids'* roles only, not the triangle set; it's a drop-in caller
    rewrite of the edge orientation and intentionally not the default
    here because id-ordering keeps the operator bit-reproducible
    against a plain-SQL oracle."""
    # the edge relation feeds THREE joins (both wedge sides + the
    # closure probe) — same materialization rule as the supersteps
    e = _materialize_edges(edges).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    wedge = e.join(
        e.select(F.col("a").alias("b"), F.col("b").alias("c")), on="b"
    )  # a < b < c by construction
    tri = wedge.join(
        e.select(F.col("a").alias("a"), F.col("b").alias("c")), on=["a", "c"]
    ).select("a", "b", "c")
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def k_hop_distances(edges: DataFrame, sources: DataFrame, k: int) -> DataFrame:
    """Min-hop BFS distance from any ``sources.node``, bounded at ``k``
    hops over (src, dst) ``edges``.

    Relational Pregel shape: per hop, join the previous frontier with
    the edge list and fold it into the running distance table — the
    same synchronous-superstep pattern as :func:`pagerank`, with one
    ``localCheckpoint`` per hop, of ``frontier``, cutting the lineage.
    The frontier is consumed TWICE (by the next edge join and by the
    union into dist), so without materialization each hop re-executes
    the whole prefix — plan size and work grow exponentially in k
    (measured: k=3 on the sf0.1 co-event graph went 23.8 s → ~4 s when
    the checkpoint interval dropped from 4 to 1). ``dist`` needs no pin
    of its own: it is the union of the pinned source set and the pinned
    frontiers, so its plan is k+1 scans of materialized pieces.

    → (node, dist) for every node within k hops of a source
    (sources themselves at dist 0). Unreached nodes are absent —
    callers wanting ∞ rows should left-join against their node list.

    At 100 TB: the frontier (only rows that improved) is what joins
    the edges, so supersteps shrink as the BFS saturates. The frontier's
    size is observed by its pin and |dist| is the running sum of the
    pinned pieces; while the frontier (resp. dist) fits
    ``MAX_BROADCAST_ROWS`` it is broadcast into the edge (resp. anti)
    join — the (huge) edge relation is then never shuffled, mirroring
    pagerank's broadcast rank vector.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    dist = sources.select("node").distinct().withColumn("dist", F.lit(0).cast("long"))
    if k == 0:
        return dist
    # The edge relation is consumed once per superstep; when it is
    # itself a derived plan (joins/dedup — the usual case), every hop
    # would re-execute that pipeline. Materialize it ONCE (measured on
    # the sf0.1 co-purchase graph: 22 s → 4 s for k=3).
    edges = _materialize_edges(edges)
    dist, n_dist = pin_count(dist)
    frontier, n_frontier = dist, n_dist
    for hop in range(1, k + 1):
        fr = _bcast(frontier, n_frontier)
        reached = (
            fr.join(edges, fr["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .withColumn("dist", F.lit(hop).cast("long"))
        )
        # new frontier = nodes not already reached at a smaller distance
        frontier, n_frontier = pin_count(
            reached.join(_bcast(dist, n_dist), "node", "left_anti")
        )
        # frontier is DISJOINT from dist (the anti join) and carries a
        # strictly larger hop value: a plain union of the pinned pieces
        # is the min-combined table, and its size is the exact sum
        dist = dist.unionByName(frontier)
        n_dist += n_frontier
    return dist


def bounded_shortest_paths(edges: DataFrame, sources: DataFrame, k: int) -> DataFrame:
    """Bellman-Ford bounded at ``k`` relaxation rounds: min-cost path
    distance from any ``sources.node`` using ≤ k of the (src, dst, w)
    ``edges``. Integer weights keep every distance exact (the oracle
    replays the identical relaxations); floats would accumulate
    engine-ordered summation noise along paths.

    Same superstep shape as :func:`k_hop_distances`: only nodes whose
    distance IMPROVED last round propagate (delta-stepping's
    observation — after k rounds this equals full k-round relaxation,
    because an unchanged node re-relaxes to the same candidates), the
    frontier broadcasts while small, the edge relation is checkpointed
    once, and dist/frontier checkpoint (and are sized) per round.

    → (node, dist) for nodes reachable within k edges; sources at 0.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    dist = sources.select("node").distinct().withColumn("dist", F.lit(0).cast("long"))
    if k == 0:
        return dist
    # the weight cast rides in the (pinned or cached) edge projection
    edges = _materialize_edges(edges, F.col("w").cast("long").alias("w"))
    dist, n_dist = pin_count(dist)
    frontier, n_frontier = dist, n_dist
    for _ in range(k):
        fr = _bcast(frontier, n_frontier)
        cand = (
            fr.join(edges, fr["node"] == edges["src"])
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        # improved = candidate strictly better than current (or new node)
        frontier, n_frontier = pin_count(
            cand.join(
                _bcast(dist, n_dist).withColumnRenamed("dist", "__old"), on="node", how="left"
            )
            .filter(F.col("__old").isNull() | (F.col("dist") < F.col("__old")))
            .select("node", "dist")
        )
        # every frontier node carries a STRICTLY better distance than
        # dist (the filter above), so the min-combine reduces to "take
        # the frontier row where one exists": an anti join (map-side
        # under the broadcast) + union replaces the round-8 full
        # groupBy-min shuffle of the dist relation (§2.4)
        keep = dist.join(
            _bcast(frontier.select("node"), n_frontier), on="node", how="left_anti"
        )
        dist, n_dist = pin_count(keep.unionByName(frontier))
    return dist


def partition_modularity(
    edges: DataFrame,
    communities: DataFrame,
    node_col: str = "node",
    community_col: str = "community",
    degrees: DataFrame | None = None,
) -> DataFrame:
    """Newman modularity Q of a GIVEN node partition over a symmetrized
    edge list (Newman & Girvan 2004): with 2m directed arcs,
    Q = Σ_c [ a_c/2m − (d_c/2m)² ] where a_c counts arcs internal to
    community c and d_c sums its node degrees. Audits whether an
    external labeling (nation, brand, dedup cluster) explains the graph.

    Everything is exact int64 until the per-community q_term — one
    double expression over (a_c, d_c, 2m), rounded to 9 decimals so the
    '__total__' row's ≤|communities|-element sum is cross-engine safe
    (rounded again to 6). Plan: degree groupBy + two community joins +
    a community-bounded aggregation; no window touches the edge list.

    `edges` must be the symmetrized (both-directions, deduplicated)
    arc list — the same contract as :func:`pagerank`. Pass `degrees`
    (node `src`, long `deg` — count of outgoing arcs per node) to
    reuse an already-materialized degree relation.
    """
    e = edges.select(F.col("src"), F.col("dst"))
    cm = communities.select(
        F.col(node_col).alias("__n"), F.col(community_col).alias("__c")
    )
    if degrees is None:
        deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    else:
        deg = degrees.select(F.col("src"), F.col("deg").cast("long"))
    # per-community degree mass (every node with an edge has a degree row)
    d_c = (
        deg.join(cm, deg["src"] == cm["__n"])
        .groupBy("__c")
        .agg(F.sum("deg").cast("long").alias("degree_sum"))
    )
    # arcs whose two endpoints share the community
    src_c = cm.withColumnRenamed("__n", "src").withColumnRenamed("__c", "__sc")
    dst_c = cm.withColumnRenamed("__n", "dst").withColumnRenamed("__c", "__dc")
    a_c = (
        e.join(src_c, "src")
        .join(dst_c, "dst")
        .filter(F.col("__sc") == F.col("__dc"))
        .groupBy(F.col("__sc").alias("__c"))
        .agg(F.count(F.lit(1)).cast("long").alias("internal_arcs"))
    )
    tot = e.agg(F.count(F.lit(1)).cast("long").alias("two_m"))
    per = (
        d_c.join(a_c, "__c", "left")
        .na.fill({"internal_arcs": 0})
        .crossJoin(F.broadcast(tot))
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    per = per.select(
        F.col("__c").alias("community"),
        "internal_arcs",
        "degree_sum",
        F.round(
            dd("internal_arcs") / dd("two_m")
            - (dd("degree_sum") / dd("two_m")) * (dd("degree_sum") / dd("two_m")),
            9,
        ).alias("q_term"),
    ).localCheckpoint(eager=True)  # community-bounded; the '__total__'
    # row re-reads per, so without this pin the whole degree/arc
    # subtree (two community joins over the edge list) runs twice
    total_row = per.agg(
        F.sum("internal_arcs").cast("long").alias("internal_arcs"),
        F.sum("degree_sum").cast("long").alias("degree_sum"),
        F.round(F.sum("q_term"), 6).alias("q_term"),
    ).select(F.lit("__total__").alias("community"), "internal_arcs", "degree_sum", "q_term")
    return per.unionByName(total_row).orderBy("community")


def min_label_propagation(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """Deterministic label propagation: every node starts labeled with
    its own id and each synchronous round takes the MIN label over
    itself and its in-neighbors. With min() as the combiner the fix
    point is connected components; a bounded round count gives the
    radius-k community structure (the deterministic variant of
    Raghavan et al. 2007 — mode-with-random-ties is not reproducible
    across engines, min is).

    Scale shape: the label vector is |V| rows — tiny next to |E|.
    While it fits ``MAX_BROADCAST_ROWS`` it is BROADCAST into the
    edge join (pagerank's rank-vector pattern), so the edge relation
    is never shuffled and each round is one map-side join + one
    min-combine groupBy whose map-side partials shrink the shuffle to
    ~|V| rows per task; past the cap each round falls back to the
    co-partitioned hash join (Pregel-at-scale shape). Labels are
    checkpointed every 2 rounds to truncate lineage. → (node, lab)
    after ``rounds``.

    Edge contract: ``edges`` is expected symmetrized (every dst also
    appears as a src), as pagerank's are. The broadcast decision sizes
    the src nodes once, before round 1; a dst-only node would join the
    label table after round 1 and could push a broadcast label table
    past ``MAX_BROADCAST_ROWS``."""
    edges = _materialize_edges(edges)
    lab = (
        edges.select(F.col("src").alias("node"))
        .dropDuplicates()
        .withColumn("lab", F.col("node"))
    )
    if rounds > 0:
        # |V| is round-invariant: one pinned init decides the broadcast
        # strategy for every round (and the pin keeps the twice-consumed
        # round-1 label table from re-running the dedup)
        lab, n_nodes = pin_count(lab)
    for it in range(rounds):
        lsrc = _bcast(lab.withColumnRenamed("node", "src"), n_nodes)
        msgs = edges.join(lsrc, on="src").select(
            F.col("dst").alias("node"), "lab"
        )
        lab = (
            msgs.unionByName(lab.select("node", "lab"))
            .groupBy("node")
            .agg(F.min("lab").alias("lab"))
        )
        if (it + 1) % 2 == 0:
            lab = lab.localCheckpoint(eager=True)
    return lab


def katz_walk_counts(edges: DataFrame) -> DataFrame:
    """Truncated Katz centrality with attenuation beta = 1/4 kept as
    EXACT integer walk counts: w_k(i) = number of length-k walks ending
    at i, and katz_x64 = 16*w1 + 4*w2 + w3 = 4^3 * sum(beta^k w_k) —
    the integer-scaled 3-term Katz score (Katz 1953). No double ever
    appears; walk counts are plain groupBy sums chained through two
    hash joins (A^T applied twice to the degree vector). The walk
    vectors are |V| rows — while under ``MAX_BROADCAST_ROWS`` they
    broadcast into the edge joins (pagerank's rank-vector pattern), so
    the edge relation is never shuffled; integer sums are
    order-insensitive, so the join strategy cannot change the values.

    → (node, w1, w2, w3, katz_x64). int64 holds to ~1e5 average degree
    (w3 <= E * dmax^2); beyond that widen to decimal(38,0)."""
    edges = _materialize_edges(edges)
    # the pin's size decides the broadcast strategy for both walk joins;
    # w1 is consumed three times (w2 join + final joins)
    w1, n_nodes = pin_count(
        edges.groupBy(F.col("dst").alias("node")).agg(
            F.count(F.lit(1)).cast("long").alias("w1")
        )
    )
    w2 = (
        edges.join(_bcast(w1.withColumnRenamed("node", "src"), n_nodes), on="src")
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum("w1").cast("long").alias("w2"))
    )
    w3 = (
        edges.join(_bcast(w2.withColumnRenamed("node", "src"), n_nodes), on="src")
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum("w2").cast("long").alias("w3"))
    )
    return (
        w1.join(_bcast(w2, n_nodes), on="node")
        .join(_bcast(w3, n_nodes), on="node")
        .select(
            "node",
            "w1",
            "w2",
            "w3",
            (F.lit(16) * F.col("w1") + F.lit(4) * F.col("w2") + F.col("w3"))
            .cast("long")
            .alias("katz_x64"),
        )
    )
