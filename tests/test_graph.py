"""pagerank: hand-checked tiny graph, mass conservation, dangling guard;
superstep operators: broadcast and shuffle paths agree."""

from __future__ import annotations

import pytest

from redshells_spark.operators.graph import pagerank, symmetrize_edges


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_two_node_cycle_is_uniform(spark):
    # a <-> b: uniform start is the exact fixpoint
    pr = pagerank(_edges(spark, [("a", "b"), ("b", "a")]), iterations=4)
    ranks = {r["node"]: r["rank"] for r in pr.collect()}
    assert ranks == {"a": 0.5, "b": 0.5}


def test_star_center_dominates_and_mass_conserved(spark):
    e = symmetrize_edges(_edges(spark, [("hub", x) for x in ("a", "b", "c", "d")]))
    pr = pagerank(e, iterations=10)  # pinned at iterations 5 and 10
    ranks = {r["node"]: r["rank"] for r in pr.collect()}
    assert ranks["hub"] > max(v for k, v in ranks.items() if k != "hub")
    # no dangling nodes -> total rank mass stays 1
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-6)
    # spokes are symmetric
    spoke = [v for k, v in ranks.items() if k != "hub"]
    assert max(spoke) == pytest.approx(min(spoke), abs=1e-12)


def test_dangling_nodes_refused(spark):
    with pytest.raises(ValueError, match="dangling"):
        pagerank(_edges(spark, [("a", "b")]))


def test_symmetrize(spark):
    e = symmetrize_edges(_edges(spark, [("a", "b"), ("a", "b"), ("b", "a")]))
    assert sorted((r["src"], r["dst"]) for r in e.collect()) == [("a", "b"), ("b", "a")]


def test_triangle_counts_hand_checked(spark):
    from redshells_spark.operators.graph import count_triangles_per_node

    # K4 on {1,2,3,4} (4 triangles, each node in 3) + pendant edge 4-5
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)] + [(4, 5)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in count_triangles_per_node(e).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}  # node 5 is in no triangle


def test_triangle_free_graph_empty(spark):
    from redshells_spark.operators.graph import count_triangles_per_node

    # a path graph has no triangles
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    assert count_triangles_per_node(e).count() == 0


def test_bounded_shortest_paths_prefers_cheap_two_hop(spark):
    from redshells_spark.operators.graph import bounded_shortest_paths

    # a->c direct cost 10; a->b->c cost 2+3=5; d unreachable in k=2
    edges = spark.createDataFrame(
        [("a", "c", 10), ("a", "b", 2), ("b", "c", 3), ("c", "d", 1)],
        "src string, dst string, w long",
    )
    sources = spark.createDataFrame([("a",)], "node string")
    got = {r["node"]: r["dist"] for r in
           bounded_shortest_paths(edges, sources, k=2).collect()}
    assert got == {"a": 0, "b": 2, "c": 5, "d": 11}
    # k=3 lets the path continue through c
    got3 = {r["node"]: r["dist"] for r in
            bounded_shortest_paths(edges, sources, k=3).collect()}
    assert got3["d"] == 6


def test_bounded_shortest_paths_zero_rounds(spark):
    from redshells_spark.operators.graph import bounded_shortest_paths

    edges = spark.createDataFrame([("a", "b", 1)], "src string, dst string, w long")
    sources = spark.createDataFrame([("a",)], "node string")
    got = {r["node"]: r["dist"] for r in
           bounded_shortest_paths(edges, sources, k=0).collect()}
    assert got == {"a": 0}


def _superstep_results(spark):
    import random

    from redshells_spark.operators.graph import (
        bounded_shortest_paths,
        k_hop_distances,
        katz_walk_counts,
        min_label_propagation,
    )

    rng = random.Random(9)
    raw = list({(rng.randrange(25), rng.randrange(25)) for _ in range(70)})
    raw = [(a, b) for a, b in raw if a != b]
    e = symmetrize_edges(spark.createDataFrame(raw, "src bigint, dst bigint"))
    s = spark.createDataFrame([(0,), (1,)], "node bigint")
    we = spark.createDataFrame(
        [(a, b, (a * 7 + b) % 5 + 1) for a, b in raw], "src bigint, dst bigint, w long"
    )
    return {
        "k_hop": {r["node"]: r["dist"] for r in k_hop_distances(e, s, k=3).collect()},
        "wsp": {
            r["node"]: r["dist"] for r in bounded_shortest_paths(we, s, k=3).collect()
        },
        "lpa": {r["node"]: r["lab"] for r in min_label_propagation(e, rounds=2).collect()},
        "katz": {r["node"]: r["katz_x64"] for r in katz_walk_counts(e).collect()},
        "pagerank": {
            r["node"]: r["rank"]
            for r in pagerank(e, iterations=6, assume_no_dangling=True).collect()
        },
    }


def test_superstep_broadcast_and_shuffle_paths_agree(spark, monkeypatch):
    # frontier/label/walk/rank vectors broadcast while small, sizes
    # observed by the pins, min-combine replaced by disjoint union
    # (BFS) / anti+union (Bellman-Ford). Forcing the broadcast cap to 0
    # exercises the shuffle fallback — both paths must produce
    # identical results.
    from redshells_spark.operators import graph

    bcast = _superstep_results(spark)
    monkeypatch.setattr(graph, "MAX_BROADCAST_ROWS", 0)
    shuffled = _superstep_results(spark)
    assert bcast == shuffled
    assert bcast["k_hop"][0] == 0 and bcast["wsp"][0] == 0
    assert len(bcast["pagerank"]) == len(bcast["lpa"]) > 0
