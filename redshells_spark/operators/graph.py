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
- lineage is cut with ``localCheckpoint`` every ``checkpoint_every``
  iterations, the same guard the connected-components loop needed:
  without it the plan doubles per iteration and the optimizer chokes
  long before the data does;
- callers that need determinism across engines pass ``round_digits``:
  double summation is order-dependent (~1e-17 noise per step), and
  rounding each iterate to 10-12 decimals makes the fixpoint
  bit-reproducible — this is what lets the DuckDB oracle unroll the
  same iterations as CTEs and hash-MATCH (queries.py:pagerank_suppliers).

Dangling nodes: callers should symmetrize the edge list (or otherwise
guarantee every node has out-degree ≥ 1); with dangling nodes the
redistribution term would need a per-iteration global sum — supported
nowhere in the oracle, so the operator asserts instead of guessing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _materialize_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Bound the per-superstep cost of re-reading the edge relation:
    a DERIVED edge plan (joins/dedups — the usual caller shape) is
    eagerly localCheckpoint-ed so each superstep re-reads materialized
    rows, but an ALREADY-CACHED relation (the shared per-session edge
    caches) is left alone — its supersteps hit the InMemoryTableScan
    directly, and a second eager materialization is pure duplicate
    work (~0.3-0.5s per query on the sf0.1 co-purchase graph)."""
    from pyspark.storagelevel import StorageLevel

    proj = edges.select(F.col(src), F.col(dst))
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
    round_digits: int | None = 10,
    checkpoint_every: int = 5,
    assume_no_dangling: bool = False,
    max_broadcast_nodes: int = 1_000_000,
) -> DataFrame:
    """→ (node, rank) after ``iterations`` synchronous power steps from
    the uniform vector. ``edges`` must be (src, dst) with every node
    having out-degree ≥ 1 (see :func:`symmetrize_edges`; callers that
    just symmetrized can pass ``assume_no_dangling=True`` to skip the
    verification pass)."""
    # the degree vector is |V| rows — materialize IT once (one |E|
    # aggregate), not the |E|-row edges⋈degree join the round-8 form
    # checkpointed per invocation: in broadcast mode the degree rides
    # inside the broadcast rank vector, so the (huge) edge relation is
    # consumed as-is — no join materialization, no shuffle of edges
    edges = _materialize_edges(edges)
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).cast("double").alias("deg"))
        .localCheckpoint(eager=True)
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

    n = deg.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    base = (1.0 - damping) / n

    # the rank vector is |V| rows — tiny next to |E|. Broadcasting it
    # (joined with deg, still |V|) keeps the edge relation UN-shuffled
    # across all iterations (the only shuffle left is the per-dst
    # partial-sum aggregate); above the cap fall back to the
    # materialized edges⋈degree shuffle join, the Pregel-at-scale shape
    broadcast_ranks = n <= max_broadcast_nodes
    if not broadcast_ranks:
        wedges = edges.join(deg, on="src").localCheckpoint(eager=True)

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for it in range(iterations):
        rank_src = ranks.withColumnRenamed("node", "src")
        if broadcast_ranks:
            contrib = (
                edges.join(F.broadcast(rank_src.join(deg, on="src")), on="src")
                .groupBy("dst")
                .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
            )
        else:
            contrib = (
                wedges.join(rank_src, on="src")
                .groupBy("dst")
                .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
            )
        new_rank = F.lit(base) + F.lit(damping) * F.col("contrib")
        if round_digits is not None:
            new_rank = F.round(new_rank, round_digits)
        # no dangling nodes ⇒ every node receives at least one
        # contribution, so the inner-join result covers all nodes
        ranks = contrib.select(F.col("dst").alias("node"), new_rank.alias("rank"))
        if (it + 1) % checkpoint_every == 0:
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


def k_hop_distances(
    edges: DataFrame,
    sources: DataFrame,
    k: int,
    node_col: str = "node",
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 1,
    max_broadcast_frontier: int = 1_000_000,
) -> DataFrame:
    """Min-hop BFS distance from any source node, bounded at ``k`` hops.

    Relational Pregel shape: per hop, join the previous frontier with
    the edge list and min-fold into the running distance table — the
    same synchronous-superstep pattern as :func:`pagerank`, with
    ``localCheckpoint`` per superstep (``checkpoint_every``) cutting
    the lineage. Both ``dist`` and ``frontier`` are consumed TWICE by
    the next superstep (frontier by the edge join and the union; dist
    by the anti join and the union), so without materialization each
    hop re-executes the whole prefix — plan size and work grow
    exponentially in k (measured: k=3 on the sf0.1 co-event graph went
    23.8 s → ~4 s when the checkpoint interval dropped from 4 to 1).

    → (node, dist) for every node within k hops of a source
    (sources themselves at dist 0). Unreached nodes are absent —
    callers wanting ∞ rows should left-join against their node list.

    At 100 TB: the frontier (only rows that improved) is what joins
    the edges, so supersteps shrink as the BFS saturates. While the
    frontier stays under ``max_broadcast_frontier`` rows it is
    broadcast into the edge join — the (huge) edge relation is then
    never shuffled, mirroring pagerank's broadcast rank vector; a
    frontier that outgrows the cap falls back to a shuffle join for
    that superstep. With ``checkpoint_every=1`` (the default) the
    frontier is checkpointed before the size probe, so the ``count()``
    reads materialized rows; with a larger interval, hops between
    checkpoints recompute the unpinned frontier plan for the count and
    again for the union.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    if k > 0:
        # The edge relation is consumed once per superstep; when it is
        # itself a derived plan (joins/dedup — the usual case), every
        # hop would re-execute that pipeline. Materialize it ONCE —
        # same fix as pagerank's edge⋈degree checkpoint (measured on
        # the sf0.1 co-purchase graph: 22 s → 4 s for k=3).
        edges = _materialize_edges(edges, src, dst)
    dist = sources.select(F.col(node_col).alias("node")).distinct().withColumn(
        "dist", F.lit(0).cast("long")
    )
    if k > 0:
        dist = dist.localCheckpoint(eager=True)
    frontier = dist
    # frontier and dist sizes are tracked ARITHMETICALLY (frontier is
    # disjoint from dist by the anti join, so |dist| grows by exactly
    # |frontier|): one count per hop on the just-checkpointed frontier
    # replaces the round-8 pair of count jobs per hop
    n_frontier = n_dist = frontier.count() if k > 0 else 0
    for hop in range(1, k + 1):
        fr = frontier
        if n_frontier <= max_broadcast_frontier:
            fr = F.broadcast(fr)
        reached = (
            fr.join(edges, fr["node"] == edges[src])
            .select(F.col(dst).alias("node"))
            .distinct()
            .withColumn("dist", F.lit(hop).cast("long"))
        )
        # new frontier = nodes not already reached at a smaller distance
        d = F.broadcast(dist) if n_dist <= max_broadcast_frontier else dist
        frontier = reached.join(d, "node", "left_anti")
        if hop % checkpoint_every == 0:
            frontier = frontier.localCheckpoint(eager=True)
        n_frontier = frontier.count()
        n_dist += n_frontier
        # frontier is DISJOINT from dist (the anti join) and carries a
        # strictly larger hop value, so the old groupBy-min combine was
        # a no-op shuffle of the whole dist relation — a plain union is
        # the identical result with zero exchanges (§2.4)
        dist = dist.unionByName(frontier)
        if hop % checkpoint_every == 0:
            dist = dist.localCheckpoint(eager=True)
    return dist


def bounded_shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    k: int,
    node_col: str = "node",
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_broadcast_frontier: int = 1_000_000,
) -> DataFrame:
    """Bellman-Ford bounded at ``k`` relaxation rounds: min-cost path
    distance from any source using ≤ k edges. Integer weights keep
    every distance exact (the oracle replays the identical
    relaxations); floats would accumulate engine-ordered summation
    noise along paths.

    Same superstep shape as :func:`k_hop_distances`: only nodes whose
    distance IMPROVED last round propagate (delta-stepping's
    observation — after k rounds this equals full k-round relaxation,
    because an unchanged node re-relaxes to the same candidates), the
    frontier broadcasts while small, the edge relation is checkpointed
    once, and dist/frontier checkpoint per round.

    → (node, dist) for nodes reachable within k edges; sources at 0.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    if k > 0:
        from pyspark.storagelevel import StorageLevel

        proj = edges.select(
            F.col(src), F.col(dst), F.col(weight).cast("long").alias("__w")
        )
        # cached inputs skip the duplicate materialization (see
        # _materialize_edges); the weight cast is per-superstep codegen
        edges = (
            proj
            if edges.storageLevel != StorageLevel.NONE
            else proj.localCheckpoint(eager=True)
        )
    dist = (
        sources.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
    )
    if k > 0:
        dist = dist.localCheckpoint(eager=True)
    frontier = dist
    # sizes tracked with ONE count per round (on the just-checkpointed
    # frontier; |dist| ≤ |dist| + |frontier| — only the ≤-threshold
    # decision needs it), replacing the round-8 two-count pair
    n_frontier = n_dist = frontier.count() if k > 0 else 0
    for _ in range(k):
        fr = frontier
        if n_frontier <= max_broadcast_frontier:
            fr = F.broadcast(fr)
        cand = (
            fr.join(edges, fr["node"] == edges[src])
            .select(
                F.col(dst).alias("node"), (F.col("dist") + F.col("__w")).alias("dist")
            )
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        d = F.broadcast(dist) if n_dist <= max_broadcast_frontier else dist
        # improved = candidate strictly better than current (or new node)
        frontier = (
            cand.join(d.withColumnRenamed("dist", "__old"), on="node", how="left")
            .filter(F.col("__old").isNull() | (F.col("dist") < F.col("__old")))
            .select("node", "dist")
            .localCheckpoint(eager=True)
        )
        n_frontier = frontier.count()
        n_dist += n_frontier  # upper bound: improved-only rows re-enter
        # every frontier node carries a STRICTLY better distance than
        # dist (the filter above), so the min-combine reduces to "take
        # the frontier row where one exists": an anti join (map-side
        # under the broadcast) + union replaces the round-8 full
        # groupBy-min shuffle of the dist relation (§2.4)
        keep = dist.join(
            F.broadcast(frontier.select("node"))
            if n_frontier <= max_broadcast_frontier
            else frontier.select("node"),
            on="node",
            how="left_anti",
        )
        dist = keep.unionByName(frontier).localCheckpoint(eager=True)
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


def min_label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    checkpoint_every: int = 2,
    max_broadcast_nodes: int = 1_000_000,
) -> DataFrame:
    """Deterministic label propagation: every node starts labeled with
    its own id and each synchronous round takes the MIN label over
    itself and its in-neighbors. With min() as the combiner the fix
    point is connected components; a bounded round count gives the
    radius-k community structure (the deterministic variant of
    Raghavan et al. 2007 — mode-with-random-ties is not reproducible
    across engines, min is).

    Scale shape: the label vector is |V| rows — tiny next to |E|.
    While it fits ``max_broadcast_nodes`` it is BROADCAST into the
    edge join (pagerank's rank-vector pattern), so the edge relation
    is never shuffled and each round is one map-side join + one
    min-combine groupBy whose map-side partials shrink the shuffle to
    ~|V| rows per task; past the cap each round falls back to the
    co-partitioned hash join (Pregel-at-scale shape). Labels are
    checkpointed every ``checkpoint_every`` rounds to truncate
    lineage. → (node, lab) after ``rounds``.

    Edge contract: ``edges`` is expected symmetrized (every dst also
    appears as a src), as pagerank's are. The broadcast decision counts
    the src nodes once, before round 1; a dst-only node would join the
    label table after round 1 and could push a broadcast label table
    past ``max_broadcast_nodes``. Checking would cost one more count
    job."""
    edges = _materialize_edges(edges)
    lab = (
        edges.select(F.col("src").alias("node"))
        .dropDuplicates()
        .withColumn("lab", F.col("node"))
    )
    if rounds > 0:
        # |V| is round-invariant: one pinned init + one count decides
        # the broadcast strategy for every round (and the pin keeps the
        # twice-consumed round-1 label table from re-running the dedup)
        lab = lab.localCheckpoint(eager=True)
        broadcast_labels = lab.count() <= max_broadcast_nodes
    for it in range(rounds):
        lsrc = lab.withColumnRenamed("node", "src")
        if broadcast_labels:
            lsrc = F.broadcast(lsrc)
        msgs = edges.join(lsrc, on="src").select(
            F.col("dst").alias("node"), "lab"
        )
        lab = (
            msgs.unionByName(lab.select("node", "lab"))
            .groupBy("node")
            .agg(F.min("lab").alias("lab"))
        )
        if (it + 1) % checkpoint_every == 0:
            lab = lab.localCheckpoint(eager=True)
    return lab


def katz_walk_counts(
    edges: DataFrame,
    weights: tuple = (16, 4, 1),
    max_broadcast_nodes: int = 1_000_000,
) -> DataFrame:
    """Truncated Katz centrality with attenuation beta = 1/4 kept as
    EXACT integer walk counts: w_k(i) = number of length-k walks ending
    at i, and katz_x64 = 16*w1 + 4*w2 + w3 = 4^3 * sum(beta^k w_k) —
    the integer-scaled 3-term Katz score (Katz 1953). No double ever
    appears; walk counts are plain groupBy sums chained through two
    hash joins (A^T applied twice to the degree vector). The walk
    vectors are |V| rows — while under ``max_broadcast_nodes`` they
    broadcast into the edge joins (pagerank's rank-vector pattern), so
    the edge relation is never shuffled; integer sums are
    order-insensitive, so the join strategy cannot change the values.

    → (node, w1, w2, w3, katz_x64). int64 holds to ~1e5 average degree
    (w3 <= E * dmax^2); beyond that widen to decimal(38,0)."""
    edges = _materialize_edges(edges)
    w1 = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("w1")
    )
    # one count decides the broadcast strategy for both walk joins and
    # pins w1, which is consumed three times (w2 join + final joins)
    w1 = w1.localCheckpoint(eager=True)
    bcast = w1.count() <= max_broadcast_nodes
    b = F.broadcast if bcast else (lambda d: d)
    w2 = (
        edges.join(b(w1.withColumnRenamed("node", "src")), on="src")
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum("w1").cast("long").alias("w2"))
    )
    w3 = (
        edges.join(b(w2.withColumnRenamed("node", "src")), on="src")
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum("w2").cast("long").alias("w3"))
    )
    return (
        w1.join(b(w2), on="node")
        .join(b(w3), on="node")
        .select(
            "node",
            "w1",
            "w2",
            "w3",
            (
                F.lit(int(weights[0])) * F.col("w1")
                + F.lit(int(weights[1])) * F.col("w2")
                + F.lit(int(weights[2])) * F.col("w3")
            )
            .cast("long")
            .alias("katz_x64"),
        )
    )
