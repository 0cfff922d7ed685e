"""PageRank contracts (operators/graph.py:pagerank): probability-mass
conservation, known orderings on constructed graphs, dangling-node
handling, and partitioning invariance."""

from __future__ import annotations

import pytest


def _rank_map(df):
    return {r.node: r.rank for r in df.collect()}


def test_pagerank_mass_conserved(spark):
    # simple 4-node cycle + a chord
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)], ["src", "dst"]
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 5)], ["id"])
    from etl_power_bi_dashboard_spark.operators.graph import pagerank

    # odd and even iteration counts: the last iteration's checkpointed
    # aggregate feeds the final projection either way
    for iters in (7, 8):
        ranks = _rank_map(pagerank(nodes, edges, node_col="id", max_iter=iters))
        assert abs(sum(ranks.values()) - 1.0) < 1e-9
        assert all(v > 0 for v in ranks.values())


def test_pagerank_star_center_ranks_highest(spark):
    # 5 leaves all pointing at node 0; leaves get only teleport mass
    edges = spark.createDataFrame([(i, 0) for i in range(1, 6)], ["src", "dst"])
    nodes = spark.createDataFrame([(i,) for i in range(0, 6)], ["id"])
    from etl_power_bi_dashboard_spark.operators.graph import pagerank

    ranks = _rank_map(pagerank(nodes, edges, node_col="id", max_iter=6))
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    center = ranks[0]
    for leaf in range(1, 6):
        assert center > ranks[leaf]
    # all leaves symmetric → identical rank
    leaf_ranks = {round(ranks[i], 12) for i in range(1, 6)}
    assert len(leaf_ranks) == 1


def test_pagerank_dangling_mass_redistributed(spark):
    # 1 -> 2, 2 dangles: without dangling handling mass would leak
    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    nodes = spark.createDataFrame([(1,), (2,)], ["id"])
    from etl_power_bi_dashboard_spark.operators.graph import pagerank

    ranks = _rank_map(pagerank(nodes, edges, node_col="id", max_iter=8))
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    assert ranks[2] > ranks[1]  # 2 receives 1's mass plus teleport


def test_pagerank_isolated_nodes_get_teleport_share(spark):
    edges = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
    nodes = spark.createDataFrame([(1,), (2,), (3,)], ["id"])
    from etl_power_bi_dashboard_spark.operators.graph import pagerank

    ranks = _rank_map(pagerank(nodes, edges, node_col="id", max_iter=6))
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    assert ranks[3] > 0
    assert ranks[3] < ranks[1]


def test_pagerank_partitioning_invariant(spark):
    edges = [(i, (i * 7) % 23) for i in range(23)] + [(i, 0) for i in range(23)]
    edf = spark.createDataFrame(edges, ["src", "dst"]).filter("src != dst")
    nodes = spark.createDataFrame([(i,) for i in range(23)], ["id"])
    from etl_power_bi_dashboard_spark.operators.graph import pagerank

    a = _rank_map(pagerank(nodes, edf, node_col="id", max_iter=8))
    b = _rank_map(
        pagerank(nodes.repartition(7), edf.repartition(5), node_col="id", max_iter=8)
    )
    assert set(a) == set(b)
    for k in a:
        assert a[k] == pytest.approx(b[k], abs=1e-12)


def test_pagerank_broadcast_and_shuffle_paths_agree(spark):
    """The rank-side broadcast (elides the per-iteration edge
    shuffle when the node count fits) is a physical knob only: forcing
    the broadcast plan and forcing the keyed-shuffle plan must yield
    the same fixpoint to float tolerance, and the small-graph default
    must pick the broadcast path."""
    edges = [(i, (i * 5) % 17) for i in range(17)] + [(0, 1), (3, 9)]
    edf = spark.createDataFrame(edges, ["src", "dst"]).filter("src != dst")
    nodes = spark.createDataFrame([(i,) for i in range(17)], ["id"])
    from etl_power_bi_dashboard_spark.operators.graph import pagerank

    bc = _rank_map(
        pagerank(nodes, edf, node_col="id", max_iter=6, broadcast_ranks=True)
    )
    sh = _rank_map(
        pagerank(nodes, edf, node_col="id", max_iter=6, broadcast_ranks=False)
    )
    default = _rank_map(pagerank(nodes, edf, node_col="id", max_iter=6))
    assert set(bc) == set(sh) == set(default)
    for k in bc:
        assert bc[k] == pytest.approx(sh[k], abs=1e-12)
        # n = 17 ≤ the auto threshold ⇒ the default takes the broadcast
        # path too (approx: double sums carry run-to-run last-bit wiggle)
        assert default[k] == pytest.approx(bc[k], abs=1e-12)
    assert abs(sum(bc.values()) - 1.0) < 1e-9


def test_pagerank_edges_to_unknown_nodes_conserve_mass(spark):
    """Edges pointing at ids absent from the node set must not leak rank
    mass: they are excluded up front, and their source's remaining mass
    is handled as dangling/teleport."""
    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])  # 3 unknown
    nodes = spark.createDataFrame([(1,), (2,)], ["id"])
    from etl_power_bi_dashboard_spark.operators.graph import pagerank

    ranks = _rank_map(pagerank(nodes, edges, node_col="id", max_iter=6))
    assert set(ranks) == {1, 2}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9


# --- triangle counting ------------------------------------------------------


def _tri(spark, edge_list):
    from etl_power_bi_dashboard_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame(edge_list, "src long, dst long")
    return {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(edges).collect()
    }


def test_triangle_k4_every_node_in_three(spark):
    # K4: every one of the 4 nodes sits in C(3,2)=3 triangles
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    assert _tri(spark, k4) == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_star_has_none(spark):
    star = [(0, i) for i in range(1, 6)]
    assert _tri(spark, star) == {}


def test_triangle_input_canonicalization(spark):
    # duplicates, reversed direction, and self-loops must not change counts
    messy = [(0, 1), (1, 0), (1, 2), (2, 0), (0, 2), (2, 2), (0, 1)]
    assert _tri(spark, messy) == {0: 1, 1: 1, 2: 1}


def test_triangle_hub_with_pendant_edges(spark):
    # one triangle + pendant edges off a hub: pendants contribute nothing
    g = [(0, 1), (1, 2), (0, 2), (0, 3), (0, 4), (0, 5)]
    assert _tri(spark, g) == {0: 1, 1: 1, 2: 1}


def test_triangle_two_sharing_an_edge(spark):
    # triangles {0,1,2} and {0,1,3} share edge (0,1)
    g = [(0, 1), (0, 2), (1, 2), (0, 3), (1, 3)]
    assert _tri(spark, g) == {0: 2, 1: 2, 2: 1, 3: 1}


def test_star_and_minlabel_components_agree(spark):
    """The star rewrite (the default) and min-label propagation
    (the baseline) are independent formulations of the same unique
    min-of-component fixpoint — they must agree on a graph with a
    chain (diameter > log rounds), a cycle, a dense clique, isolates,
    and a self-loop."""
    from etl_power_bi_dashboard_spark.operators.graph import (
        connected_components,
        connected_components_minlabel,
    )

    edges = (
        [(i, i + 1) for i in range(10, 16)]          # chain 10..16
        + [(1, 2), (2, 3), (3, 1)]                   # cycle
        + [(a, b) for a in range(20, 24) for b in range(a + 1, 24)]  # clique
        + [(30, 30)]                                  # self-loop
    )
    nodes = sorted({n for e in edges for n in e} | {40, 41})
    ndf = spark.createDataFrame([(n,) for n in nodes], "id bigint")
    edf = spark.createDataFrame(edges, "src bigint, dst bigint")
    star = {
        (r.node, r.label)
        for r in connected_components(ndf, edf, node_col="id").collect()
    }
    prop = {
        (r.node, r.label)
        for r in connected_components_minlabel(
            ndf, edf, node_col="id"
        ).collect()
    }
    assert star == prop
    assert (40, 40) in star and (30, 30) in star


def test_star_components_empty_edges(spark):
    from etl_power_bi_dashboard_spark.operators.graph import (
        connected_components,
    )

    ndf = spark.createDataFrame([(1,), (2,)], "id bigint")
    edf = spark.createDataFrame([], "src bigint, dst bigint")
    got = {
        (r.node, r.label)
        for r in connected_components(ndf, edf, node_col="id").collect()
    }
    assert got == {(1, 1), (2, 2)}


def test_star_components_string_ids(spark):
    """d6 labels doc ids — the rewrite must work on any orderable id
    type, not just integers."""
    from etl_power_bi_dashboard_spark.operators.graph import (
        connected_components,
    )

    ndf = spark.createDataFrame([("a",), ("b",), ("c",), ("z",)], "id string")
    edf = spark.createDataFrame([("b", "c"), ("c", "a")], "src string, dst string")
    got = {
        (r.node, r.label)
        for r in connected_components(ndf, edf, node_col="id").collect()
    }
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("z", "z")}


def test_star_components_nonconvergence_raises(spark):
    from etl_power_bi_dashboard_spark.operators.graph import (
        connected_components,
    )
    import pytest

    ndf = spark.createDataFrame([(i,) for i in range(6)], "id bigint")
    edf = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src bigint, dst bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(ndf, edf, node_col="id", max_iter=1)
