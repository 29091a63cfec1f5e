"""Graph queries over the co-purchase graph: PageRank, shortest paths,
communities, centrality, clustering, assortativity, link prediction,
k-core and rich-club structure.
"""

from __future__ import annotations

from redshells_spark.operators.observe import pin_count
from redshells_spark.queries._shared import *  # noqa: F401,F403


# PageRank oracle: the power iteration unrolled as CTEs. Every iterate
# is rounded to 10 decimals on BOTH engines, which erases the ~1e-17
# order-of-summation noise of double aggregation and makes the whole
# fixpoint bit-reproducible. Damping constants go through explicit
# DOUBLE casts — DuckDB parses 0.85 as DECIMAL, whose arithmetic would
# diverge from Spark's IEEE doubles.
def _pagerank_oracle_sql(iterations: int = 3) -> str:
    base = "((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn))"
    steps = []
    prev = "r0"
    for i in range(1, iterations + 1):
        steps.append(
            f"""rk{i} AS (SELECT e.dst AS node,
                     round({base} + CAST(0.85 AS DOUBLE) * sum(p.r / d.deg), 10) AS r
              FROM edges e JOIN {prev} p ON p.node = e.src JOIN deg d ON d.src = e.src
              GROUP BY e.dst)"""
        )
        prev = f"rk{i}"
    joined = ",\n       ".join(steps)
    return f"""WITH e0 AS (SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
                   FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       edges AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
       deg AS (SELECT src, count(*)::DOUBLE AS deg FROM edges GROUP BY 1),
       nn AS (SELECT count(DISTINCT src)::DOUBLE AS n FROM edges),
       r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS r
              FROM (SELECT DISTINCT src FROM edges)),
       {joined}
       SELECT node, r AS rank FROM {prev}"""


@session_memo
def _copurchase_deg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, deg): outgoing-arc count per node of the symmetrized
    co-purchase graph — the degree relation rich_club_coefficient and
    graph_modularity both derive; cached per (session, sf) so the
    groupBy over the ~1M-arc cached edge list runs once instead of
    once per lazy reference (assortativity-style queries read it 3x)."""
    return (
        _copurchase_edges(spark, sf_dir)
        .groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .cache()
    )


@q("pagerank_copurchase", _pagerank_oracle_sql(3))
def _pagerank_copurchase(spark, sf_dir):
    """Distributed PageRank (operators/graph.py) over the symmetrized
    customer–supplier purchase graph: 3 synchronous power steps,
    d=0.85, iterates rounded to 10 decimals for cross-engine
    determinism. Each step is one co-partitioned join + one sum — the
    relational Pregel shape, checkpointed on longer runs."""
    from redshells_spark.operators.graph import pagerank

    return pagerank(
        _copurchase_edges(spark, sf_dir),
        iterations=3,
        damping=0.85,
        assume_no_dangling=True,  # symmetrize guarantees out-degree ≥ 1
    )


@q(
    "triangle_counts",
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 45),
       e AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
             FROM li a JOIN li b
               ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       tri AS (SELECT e1.a AS a, e1.b AS b, e2.c AS c
               FROM e e1
               JOIN (SELECT a AS b, b AS c FROM e) e2 ON e2.b = e1.b
               JOIN (SELECT a, b AS c FROM e) e3 ON e3.a = e1.a AND e3.c = e2.c)
       SELECT node, count(*) AS n_triangles FROM (
         SELECT a AS node FROM tri
         UNION ALL SELECT b FROM tri
         UNION ALL SELECT c FROM tri)
       GROUP BY node""",
)
def _triangle_counts(spark, sf_dir):
    """Per-node triangle counts (operators/graph.py) over the bulk
    co-purchase part graph (parts bought with quantity ≥ 45 in the same
    order). Id-ordered wedge closure: two equi-joins, each triangle
    enumerated once — the third classic graph kernel next to PageRank
    and connected components, oracle-checked as plain SQL."""
    from redshells_spark.operators.graph import count_triangles_per_node

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select("l_orderkey", "l_partkey")
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .dropDuplicates()
    )
    out = count_triangles_per_node(edges)
    return out.select("node", F.col("n_triangles").cast("long").alias("n_triangles"))


def _bellman_ford_oracle_sql(rounds: int = 3) -> str:
    parts = [
        """e0 AS (SELECT 'c' || o_custkey AS src, 's' || l_suppkey AS dst,
                         count(*) AS cnt
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  GROUP BY 1, 2)""",
        """edges AS MATERIALIZED (
             SELECT src, dst, 1000000 // cnt AS w FROM e0
             UNION ALL SELECT dst AS src, src AS dst, 1000000 // cnt FROM e0)""",
        """d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist
                  FROM (VALUES ('c1'), ('c2'), ('c3')) t(node))""",
    ]
    prev = "d0"
    for i in range(1, rounds + 1):
        parts.append(
            f"""d{i} AS MATERIALIZED (SELECT node, min(dist)::BIGINT AS dist FROM (
             SELECT node, dist FROM {prev}
             UNION ALL
             SELECT e.dst AS node, d.dist + e.w AS dist
             FROM {prev} d JOIN edges e ON e.src = d.node) GROUP BY node)"""
        )
        prev = f"d{i}"
    return (
        "WITH "
        + ",\n       ".join(parts)
        + f"\n       SELECT node, dist FROM {prev}"
    )


@q("weighted_shortest_paths", _bellman_ford_oracle_sql(3))
def _weighted_shortest_paths(spark, sf_dir):
    """Bounded Bellman-Ford (operators/graph.py:bounded_shortest_paths)
    over the co-purchase graph with integer tie-strength weights
    (1e6 div purchase count — stronger ties are shorter): 3 relaxation
    supersteps from three seed customers. Only improved nodes
    propagate per round (equal to full relaxation — unchanged nodes
    regenerate already-folded candidates), frontier broadcasts, edge
    relation checkpointed once. Integer weights keep every path length
    exact, so the distance table hash-MATCHes the unrolled oracle."""
    from redshells_spark.operators.graph import bounded_shortest_paths

    # the symmetrized (src, dst, cnt) relation is the shared cached
    # graph-tier materialization — the weight map is a narrow select
    edges = _copurchase_edges_weighted(spark, sf_dir).select(
        "src", "dst", F.expr("1000000 div cnt").alias("w")
    )
    sources = spark.createDataFrame([("c1",), ("c2",), ("c3",)], "node string")
    return bounded_shortest_paths(edges, sources, k=3)


# ------------------------------------------------- graph modularity


@q(
    "graph_modularity",
    """WITH e0 AS (SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
                   FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       edges AS (SELECT src, dst FROM e0
                 UNION SELECT dst AS src, src AS dst FROM e0),
       cm AS (SELECT 'c' || c_custkey AS node, n_name AS community
              FROM customer JOIN nation ON n_nationkey = c_nationkey
              UNION ALL
              SELECT 's' || s_suppkey AS node, n_name AS community
              FROM supplier JOIN nation ON n_nationkey = s_nationkey),
       deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
       dc AS (SELECT m.community, CAST(sum(d.deg) AS BIGINT) AS degree_sum
              FROM deg d JOIN cm m ON m.node = d.src GROUP BY 1),
       ac AS (SELECT ms.community, CAST(count(*) AS BIGINT) AS internal_arcs
              FROM edges e JOIN cm ms ON ms.node = e.src
                           JOIN cm md ON md.node = e.dst
              WHERE ms.community = md.community GROUP BY 1),
       tm AS (SELECT CAST(count(*) AS BIGINT) AS two_m FROM edges),
       per AS (SELECT d.community,
                      CAST(coalesce(a.internal_arcs, 0) AS BIGINT) AS internal_arcs,
                      d.degree_sum,
                      round(CAST(coalesce(a.internal_arcs, 0) AS DOUBLE)
                              / CAST(t.two_m AS DOUBLE)
                            - (CAST(d.degree_sum AS DOUBLE) / CAST(t.two_m AS DOUBLE))
                              * (CAST(d.degree_sum AS DOUBLE) / CAST(t.two_m AS DOUBLE)),
                            9) AS q_term
               FROM dc d LEFT JOIN ac a USING (community) CROSS JOIN tm t)
       SELECT community, internal_arcs, degree_sum, q_term FROM per
       UNION ALL
       SELECT '__total__' AS community,
              CAST(sum(internal_arcs) AS BIGINT) AS internal_arcs,
              CAST(sum(degree_sum) AS BIGINT) AS degree_sum,
              round(sum(q_term), 6) AS q_term
       FROM per""",
)
def _graph_modularity(spark, sf_dir):
    """Newman modularity of the nation partition over the symmetrized
    customer-supplier co-purchase graph (Newman & Girvan 2004): does
    trade cluster along nations? Q = sum_c[a_c/2m - (d_c/2m)^2] with
    exact int64 arc/degree masses from the SAME cached edge relation
    pagerank_copurchase and the BFS queries consume; q_terms are
    round-9 doubles summed over the nation-bounded relation (round-6
    '__total__' row). Degree groupBy + two community joins — no window
    ever touches the edge list. operators/graph.py:partition_modularity."""
    from redshells_spark.operators.graph import partition_modularity

    edges = _copurchase_edges(spark, sf_dir)
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    cm = (
        cust.join(nat, cust["c_nationkey"] == nat["n_nationkey"])
        .select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node"),
            F.col("n_name").alias("community"),
        )
        .unionByName(
            supp.join(nat, supp["s_nationkey"] == nat["n_nationkey"]).select(
                F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("node"),
                F.col("n_name").alias("community"),
            )
        )
    )
    return partition_modularity(
        edges, cm, "node", "community", degrees=_copurchase_deg(spark, sf_dir)
    )


# ------------------------------------------------- graph communities

_EDGES_SQL = """e0 AS (SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
                   FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       edges AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0)"""


def _lpa_oracle_sql(rounds: int = 3) -> str:
    steps = []
    prev = "lab0"
    for i in range(1, rounds + 1):
        steps.append(
            f"""lab{i} AS (SELECT node, min(lab) AS lab FROM (
           SELECT e.dst AS node, l.lab FROM edges e JOIN {prev} l ON l.node = e.src
           UNION ALL SELECT node, lab FROM {prev}) GROUP BY 1)"""
        )
        prev = f"lab{i}"
    joined = ",\n       ".join(steps)
    return f"""WITH {_EDGES_SQL},
       n0 AS (SELECT DISTINCT src AS node FROM edges),
       lab0 AS (SELECT node, node AS lab FROM n0),
       {joined}
       SELECT lab AS community, CAST(count(*) AS BIGINT) AS size
       FROM {prev} GROUP BY 1 ORDER BY size DESC, community ASC LIMIT 20"""


@q("label_propagation_communities", _lpa_oracle_sql(2))
def _label_propagation_communities(spark, sf_dir):
    """Deterministic min-label propagation (the reproducible variant
    of Raghavan et al. 2007) over the symmetrized customer-supplier
    purchase graph: 2 synchronous rounds of label = min(self,
    in-neighbors), then the top-20 communities by size (2 rounds keeps
    the mesoscale structure; by round 3 the min label floods this
    dense graph to one component — the connected-components readout
    near_dup_components already owns). Each round is
    one co-partitioned hash join + one min-combine groupBy — the
    relational Pregel step pagerank_copurchase uses, sharing the same
    cached edge relation. Min as the combiner (not mode) is what makes
    the fixpoint engine-independent. operators/graph.py:
    min_label_propagation."""
    from redshells_spark.operators.graph import min_label_propagation

    lab = min_label_propagation(_copurchase_edges(spark, sf_dir), rounds=2)
    return (
        lab.groupBy(F.col("lab").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("size"))
        .orderBy(F.col("size").desc(), F.col("community").asc())
        .limit(20)
    )


# ------------------------------------------------- Katz walk counts


@q(
    "katz_centrality_paths",
    f"""WITH {_EDGES_SQL},
       w1 AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS w1
              FROM edges GROUP BY 1),
       w2 AS (SELECT e.dst AS node, CAST(sum(w.w1) AS BIGINT) AS w2
              FROM edges e JOIN w1 w ON w.node = e.src GROUP BY 1),
       w3 AS (SELECT e.dst AS node, CAST(sum(w.w2) AS BIGINT) AS w3
              FROM edges e JOIN w2 w ON w.node = e.src GROUP BY 1)
       SELECT n.node, n.w1, s2.w2, s3.w3,
              CAST(16 * n.w1 + 4 * s2.w2 + s3.w3 AS BIGINT) AS katz_x64
       FROM w1 n JOIN w2 s2 USING (node) JOIN w3 s3 USING (node)
       ORDER BY katz_x64 DESC, node ASC LIMIT 20""",
)
def _katz_centrality_paths(spark, sf_dir):
    """Truncated Katz centrality (Katz 1953, beta=1/4, depth 3) kept
    as EXACT integer walk counts: katz_x64 = 16*w1 + 4*w2 + w3 where
    w_k counts length-k walks ending at the node — no float anywhere.
    Two chained hash joins apply A^T to the degree vector; the top-20
    readout is an orderBy+limit (TakeOrdered, never a global window).
    Shares the cached copurchase edge relation. operators/graph.py:
    katz_walk_counts."""
    from redshells_spark.operators.graph import katz_walk_counts

    k = katz_walk_counts(_copurchase_edges(spark, sf_dir))
    return k.orderBy(F.col("katz_x64").desc(), F.col("node").asc()).limit(20)


# ----------------------------------------------------------------
# shared part co-purchase graph (same construction as triangle_counts:
# parts bought with quantity >= 45 in the same order, id-canonical
# pairs) — cached per (session, sf) like _copurchase_edges so the
# three graph queries below build it once.

_PART_EDGES_SQL = """li AS (SELECT l_orderkey, l_partkey FROM lineitem
             WHERE l_quantity >= 45),
       e AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
             FROM li a JOIN li b
               ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       und AS (SELECT a AS src, b AS dst FROM e
               UNION ALL SELECT b, a FROM e),
       deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
               FROM und GROUP BY 1)"""


@session_memo
def _part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (a < b) distinct part co-purchase edges, cached."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select("l_orderkey", "l_partkey")
    )
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("a"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("b"))
    e = (
        a.join(b, "k")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    return e.cache()


def _part_und(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst): both directions of every ``_part_edges`` edge."""
    e = _part_edges(spark, sf_dir)
    return e.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )


@session_memo
def _part_deg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, deg) over ``_part_und``. Tiny (one row per part), but each
    lazy reference re-shuffles the edge union and assortativity alone
    references it three times, so it is cached per (session, sf)."""
    return (
        _part_und(spark, sf_dir)
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .cache()
    )


# ------------------------------------------ local clustering coefficient


@q(
    "local_clustering_coefficient",
    f"""WITH {_PART_EDGES_SQL},
       tri AS (SELECT e1.a AS a, e1.b AS b, e2.c AS c
               FROM e e1
               JOIN (SELECT a AS b, b AS c FROM e) e2 ON e2.b = e1.b
               JOIN (SELECT a, b AS c FROM e) e3 ON e3.a = e1.a AND e3.c = e2.c),
       tn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
                SELECT a AS node FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri)
              GROUP BY node),
       lcc AS (SELECT deg.node, deg.deg,
                      CAST(coalesce(tn.n_tri, 0) AS BIGINT) AS n_tri,
                      CAST(2 * coalesce(tn.n_tri, 0) * 1000000
                           // (deg.deg * (deg.deg - 1)) AS BIGINT) AS lcc_e6
               FROM deg LEFT JOIN tn USING (node)
               WHERE deg.deg >= 2),
       avg_g AS (SELECT CAST(sum(lcc_e6) // count(*) AS BIGINT) AS avg_lcc_e6
                 FROM lcc)
       SELECT CAST(lcc.node AS BIGINT) AS node, lcc.deg, lcc.n_tri,
              lcc.lcc_e6, avg_g.avg_lcc_e6
       FROM lcc CROSS JOIN avg_g
       ORDER BY lcc.lcc_e6 DESC, lcc.n_tri DESC, lcc.node ASC
       LIMIT 20""",
)
def _local_clustering_coefficient(spark, sf_dir):
    """Local clustering coefficient per node (Watts & Strogatz 1998)
    over the part co-purchase graph: lcc = 2*triangles/(deg*(deg-1)),
    exported as an exact e6 integer division, plus the network-average
    coefficient over all deg>=2 nodes. Triangles reuse the id-ordered
    wedge-closure joins of triangle_counts (each triangle enumerated
    once); degree and triangle relations are dimension-scale (parts),
    so the top-20 is a TakeOrdered over a bounded relation — no global
    window, no fact-scale sort."""
    from redshells_spark.operators.graph import count_triangles_per_node

    e = _part_edges(spark, sf_dir)
    deg = _part_deg(spark, sf_dir)
    tn = count_triangles_per_node(
        e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    ).select(F.col("node"), F.col("n_triangles").alias("n_tri"))
    lcc = (
        deg.filter(F.col("deg") >= 2)
        .join(tn, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_tri"),
            F.expr(
                "cast(2 * coalesce(n_tri, 0) * 1000000"
                " div (deg * (deg - 1)) as long)"
            ).alias("lcc_e6"),
        )
        # both avg_g and the final select consume lcc — pin it so the
        # triangle-closure joins run once (before-plan: 42 scans)
        .localCheckpoint(eager=True)  # node-bounded
    )
    avg_g = lcc.agg(
        F.expr("cast(sum(lcc_e6) div count(*) as long)").alias("avg_lcc_e6")
    )
    return (
        lcc.crossJoin(F.broadcast(avg_g))
        .select(
            F.col("node").cast("long").alias("node"),
            "deg",
            "n_tri",
            "lcc_e6",
            "avg_lcc_e6",
        )
        .orderBy(
            F.col("lcc_e6").desc(), F.col("n_tri").desc(), F.col("node").asc()
        )
        .limit(20)
    )


# ---------------------------------------------- degree assortativity


@q(
    "degree_assortativity",
    f"""WITH {_PART_EDGES_SQL},
       j AS (SELECT d1.deg AS da, d2.deg AS db
             FROM und
             JOIN deg d1 ON d1.node = und.src
             JOIN deg d2 ON d2.node = und.dst),
       s AS (SELECT CAST(count(*) AS BIGINT) AS m,
                    CAST(sum(da) AS BIGINT) AS sx,
                    CAST(sum(da * da) AS BIGINT) AS sxx,
                    CAST(sum(da * db) AS BIGINT) AS sxy
             FROM j),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
       SELECT nn.n_nodes, s.m AS n_directed_edges,
              round((CAST(s.m AS DOUBLE) * CAST(s.sxy AS DOUBLE)
                     - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE))
                    / (CAST(s.m AS DOUBLE) * CAST(s.sxx AS DOUBLE)
                       - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE)), 6)
                AS assortativity
       FROM s CROSS JOIN nn""",
)
def _degree_assortativity(spark, sf_dir):
    """Degree assortativity (Newman 2002) of the part co-purchase
    graph: the Pearson correlation of endpoint degrees over the
    symmetrized edge list (both directions, so the two marginals are
    identical and r = (m*sxy - sx^2)/(m*sxx - sx^2)). The four moment
    sums are exact int64 over one dimension-scale join; the final
    ratio is a single fixed IEEE tree (products taken in double —
    m*sxy exceeds int64 at 10x). Disassortative r < 0 is the expected
    co-purchase signature (hubs link to leaves)."""
    und, deg = _part_und(spark, sf_dir), _part_deg(spark, sf_dir)
    j = (
        und.join(
            deg.select(F.col("node").alias("src"), F.col("deg").alias("da")), "src"
        )
        .join(
            deg.select(F.col("node").alias("dst"), F.col("deg").alias("db")), "dst"
        )
        .select("da", "db")
    )
    s = j.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("da").cast("long").alias("sx"),
        F.sum(F.col("da") * F.col("da")).cast("long").alias("sxx"),
        F.sum(F.col("da") * F.col("db")).cast("long").alias("sxy"),
    )
    nn = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    md, sxd = F.col("m").cast("double"), F.col("sx").cast("double")
    return s.crossJoin(F.broadcast(nn)).select(
        "n_nodes",
        F.col("m").alias("n_directed_edges"),
        F.round(
            (md * F.col("sxy").cast("double") - sxd * sxd)
            / (md * F.col("sxx").cast("double") - sxd * sxd),
            6,
        ).alias("assortativity"),
    )


# ------------------------------------------------ link prediction


@q(
    "link_prediction_scores",
    f"""WITH {_PART_EDGES_SQL},
       ctr AS (SELECT node, deg,
                      CAST(floor(CAST(1000000000 AS DOUBLE)
                                 / ln(CAST(deg AS DOUBLE))
                                 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS invln_e9
               FROM deg WHERE deg >= 2),
       wedge AS (SELECT u1.dst AS a, u2.dst AS b, ctr.invln_e9
                 FROM und u1
                 JOIN und u2 ON u1.src = u2.src AND u1.dst < u2.dst
                 JOIN ctr ON ctr.node = u1.src),
       cand AS (SELECT w.a, w.b, CAST(count(*) AS BIGINT) AS cn,
                       CAST(sum(w.invln_e9) AS BIGINT) AS aa_e9
                FROM wedge w
                LEFT JOIN e ON e.a = w.a AND e.b = w.b
                WHERE e.a IS NULL
                GROUP BY 1, 2)
       SELECT CAST(cand.a AS BIGINT) AS a, CAST(cand.b AS BIGINT) AS b,
              cand.cn, cand.aa_e9,
              CAST(cand.cn * 1000000 // (d1.deg + d2.deg - cand.cn) AS BIGINT)
                AS jaccard_e6,
              d1.deg AS deg_a, d2.deg AS deg_b
       FROM cand
       JOIN deg d1 ON d1.node = cand.a
       JOIN deg d2 ON d2.node = cand.b
       ORDER BY cand.aa_e9 DESC, cand.a ASC, cand.b ASC
       LIMIT 20""",
)
def _link_prediction_scores(spark, sf_dir):
    """Classic link-prediction scores (Liben-Nowell & Kleinberg 2003)
    for non-adjacent part pairs sharing >=1 co-purchase neighbor:
    common-neighbor count, neighbor-set Jaccard (exact e6 integer
    division), and Adamic-Adar with each center's 1/ln(deg) term
    e9-quantized BEFORE the per-pair sum (a wedge center always has
    deg >= 2, so ln > 0). Candidates come from one wedge self-join on
    the symmetrized dimension-scale adjacency, existing edges drop via
    an anti join, and the top-20 is a TakeOrdered with full tie-break.
    At 10^9 lines everything downstream of the first groupBy is
    bounded by the part dimension and sum(deg^2), not the fact table."""
    e = _part_edges(spark, sf_dir)
    und, deg = _part_und(spark, sf_dir), _part_deg(spark, sf_dir)
    ctr = deg.filter(F.col("deg") >= 2).select(
        F.col("node"),
        F.floor(F.lit(1000000000.0) / F.log(F.col("deg").cast("double")) + F.lit(0.5))
        .cast("long")
        .alias("invln_e9"),
    )
    u1 = und.select(F.col("src").alias("w"), F.col("dst").alias("a"))
    u2 = und.select(F.col("src").alias("w"), F.col("dst").alias("b"))
    wedge = (
        u1.join(u2, "w")
        .filter(F.col("a") < F.col("b"))
        .join(ctr.select(F.col("node").alias("w"), "invln_e9"), "w")
    )
    cand = (
        wedge.join(e, ["a", "b"], "left_anti")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cn"),
            F.sum("invln_e9").cast("long").alias("aa_e9"),
        )
    )
    d1 = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    d2 = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    return (
        cand.join(d1, "a")
        .join(d2, "b")
        .select(
            F.col("a").cast("long").alias("a"),
            F.col("b").cast("long").alias("b"),
            "cn",
            "aa_e9",
            F.expr(
                "cast(cn * 1000000 div (deg_a + deg_b - cn) as long)"
            ).alias("jaccard_e6"),
            F.col("deg_a").alias("deg_a"),
            F.col("deg_b").alias("deg_b"),
        )
        .orderBy(F.col("aa_e9").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(20)
    )


# ----------------------------------------------- k-core peel rounds


def _kcore_oracle_sql(k: int = 8, rounds: int = 6) -> str:
    steps = []
    prev = "alive0"
    for r in range(1, rounds + 1):
        steps.append(
            f"""deg{r} AS (SELECT e.src AS node, CAST(count(*) AS BIGINT) AS d
           FROM edges e
           JOIN {prev} a ON a.node = e.src
           JOIN {prev} b ON b.node = e.dst
           GROUP BY 1),
       alive{r} AS (SELECT node FROM deg{r} WHERE d >= {k})"""
        )
        prev = f"alive{r}"
    chain = ",\n       ".join(steps)
    sels = "\n       UNION ALL ".join(
        f"""SELECT CAST({r} AS BIGINT) AS round,
              (SELECT CAST(count(*) AS BIGINT) FROM alive{r}) AS n_nodes,
              (SELECT CAST(count(*) AS BIGINT) FROM edges e
               JOIN alive{r} a ON a.node = e.src
               JOIN alive{r} b ON b.node = e.dst) AS n_edges2"""
        for r in range(1, rounds + 1)
    )
    return f"""WITH {_EDGES_SQL},
       alive0 AS (SELECT DISTINCT src AS node FROM edges),
       {chain}
       SELECT * FROM ({sels}) ORDER BY round"""


def _k_core_rounds_table(spark, edges, k: int, rounds: int):
    """Shared peel loop of :func:`_k_core_peel_rounds` (factored out so
    the fixpoint short-circuit is testable on hand graphs): → DataFrame
    (round, n_nodes, n_edges2) for rounds 1..``rounds``."""
    cur = edges
    rows: list[tuple[int, int, int]] = []
    prev_nodes: int | None = None
    n_edges = 0
    for r in range(1, rounds + 1):
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("d"))
        # bounded driver scalars: the ≤ `rounds`-row readout itself
        alive, n_nodes = pin_count(
            deg.filter(F.col("d") >= k).select(F.col("src").alias("node"))
        )
        if prev_nodes is not None and n_nodes == prev_nodes:
            rows.extend((j, n_nodes, n_edges) for j in range(r, rounds + 1))
            break
        cur, n_edges = pin_count(
            cur.join(alive.withColumnRenamed("node", "src"), "src")
            .join(alive.withColumnRenamed("node", "dst"), "dst")
            .select("src", "dst")
        )
        rows.append((r, n_nodes, n_edges))
        prev_nodes = n_nodes
    return spark.createDataFrame(
        rows, "round bigint, n_nodes bigint, n_edges2 bigint"
    ).orderBy("round")


@q("k_core_peel_rounds", _kcore_oracle_sql(8, 6))
def _k_core_peel_rounds(spark, sf_dir):
    """Bounded k-core decomposition (k=8): 6 synchronous peeling
    rounds — drop every node whose degree within the surviving
    subgraph is < 8, report surviving nodes and (directed symmetric)
    edges per round. The convergence readout a graph-cleaning pipeline
    checks before trusting core membership: equal consecutive rows =
    fixpoint reached (tests assert rounds 5 and 6 agree on this
    corpus).

    Carries the PEELED SUBGRAPH forward (r8-opt): round r's reported
    edge relation (edges among alive_r) IS round r+1's degree input,
    so each round runs ONE subgraph join pair — eagerly checkpointed,
    so the edge count, the next round's degree groupBy, and the alive
    filter all read the materialized rows instead of re-deriving from
    the full edge relation. The first cut joined the alive set against
    the FULL cached edges twice per round (degrees + edge count): 24
    joins / 121 Exchange nodes in one mega-plan, 19.7s at sf0.1; this
    shape is 12 joins split into 6 bounded plans (guide §2.4 remove
    shuffles outright, §3.3 materialize to truncate a growing
    iterative plan). The alive set is node-proportional, never
    broadcast by hand — AQE picks broadcast when its runtime size
    fits.

    Fixpoint cut-off: peeling only REMOVES nodes (alive_r ⊆
    alive_{r-1} — both endpoints of the degree input were already
    filtered to alive_{r-1}), so |alive_r| = |alive_{r-1}| proves SET
    equality, which makes every remaining round's row identical. The
    per-round counts are single bounded scalars (the readout itself),
    so checking them on the driver costs nothing extra, and converged
    rounds skip their subgraph join outright — on this corpus the k=8
    core converges at round 1 and 5 of 6 joins vanish. Worst case (a
    fresh peel every round) stays the full 6-join budget; at 100x the
    per-round cost is one fact-shaped join."""

    return _k_core_rounds_table(
        spark, _copurchase_edges(spark, sf_dir), k=8, rounds=6
    )


# -------------------------------------------- rich-club coefficient


@q(
    "rich_club_coefficient",
    f"""WITH {_EDGES_SQL},
       deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
               FROM edges GROUP BY 1),
       ed AS (SELECT d0.d AS ds, d1.d AS dd
              FROM edges e
              JOIN deg d0 ON d0.node = e.src
              JOIN deg d1 ON d1.node = e.dst),
       ks AS (SELECT unnest([2, 4, 8, 16, 32]) AS k),
       rc AS (SELECT ks.k,
                     (SELECT CAST(count(*) AS BIGINT) FROM deg
                      WHERE deg.d > ks.k) AS n_nodes,
                     (SELECT CAST(count(*) AS BIGINT) FROM ed
                      WHERE ed.ds > ks.k AND ed.dd > ks.k) AS e2
              FROM ks)
       SELECT CAST(k AS BIGINT) AS k, n_nodes, e2 AS n_edges2,
              CAST(e2 * 1000000 // (n_nodes * (n_nodes - 1)) AS BIGINT)
                AS phi_e6
       FROM rc WHERE n_nodes >= 2 ORDER BY k""",
)
def _rich_club_coefficient(spark, sf_dir):
    """Rich-club coefficient ladder (Zhou & Mondragón 2004):
    phi(k) = 2·E_k / (N_k·(N_k−1)) over the subgraph of nodes with
    degree > k, for k in {2,4,8,16,32} — "do the hubs preferentially
    trade with each other?", the hub-interconnection profile that
    complements degree_assortativity's single global r. With the
    directed-symmetric edge count E2 = 2·E_k the ratio is the pure
    integer E2·1e6 div (N·(N−1)) — no float anywhere. One degree
    groupBy + one edge-degree join on the shared cached co-purchase
    relation; the k-ladder is a 5-row broadcast."""

    edges = _copurchase_edges(spark, sf_dir)
    # shared cached degree relation (same groupBy graph_modularity
    # uses) — referenced three times below, built once per session/sf
    deg = _copurchase_deg(spark, sf_dir).select(
        F.col("src").alias("node"), F.col("deg").alias("d")
    )
    ed = (
        edges.join(deg.select(F.col("node").alias("src"), F.col("d").alias("ds")), "src")
        .join(deg.select(F.col("node").alias("dst"), F.col("d").alias("dd")), "dst")
        .select("ds", "dd")
    )
    ks = spark.createDataFrame([(2,), (4,), (8,), (16,), (32,)], "k long")
    nn = (
        deg.crossJoin(F.broadcast(ks))
        .filter(F.col("d") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    )
    e2 = (
        ed.crossJoin(F.broadcast(ks))
        .filter((F.col("ds") > F.col("k")) & (F.col("dd") > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges2"))
    )
    return (
        # LEFT join + 0 fill: a k whose rich club has ≥2 nodes but ZERO
        # surviving edges has no e2 group at all — the inner join
        # dropped those rows while the oracle keeps them with
        # n_edges2 = 0 (surfaced by the round-9 full differential at
        # sf0.001; sf0.01+ always has edges at every ladder rung)
        nn.join(e2, "k", "left")
        .na.fill({"n_edges2": 0})
        .filter(F.col("n_nodes") >= 2)
        .select(
            "k",
            "n_nodes",
            F.col("n_edges2").cast("long").alias("n_edges2"),
            F.expr(
                "cast(n_edges2 * 1000000 div (n_nodes * (n_nodes - 1)) as bigint)"
            ).alias("phi_e6"),
        )
        .orderBy("k")
    )
