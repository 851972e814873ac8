"""Connected components over dup-pair graphs (operators/graph.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from knowledge_model_spark.operators import graph
from knowledge_model_spark.operators.graph import (
    connected_components,
    dedup_cluster_survivors,
)


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    return {
        (r.node, r.component)
        for r in connected_components(df, **kw).collect()
    }


def test_triangle_and_isolated_pair(spark):
    got = _cc(spark, [(1, 2), (2, 3), (1, 3), (10, 11)])
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_long_chain_converges_by_pointer_jumping(spark, monkeypatch):
    # a 64-node path: plain propagation needs 63 rounds; with pointer
    # jumping ~log2(63) — must finish well inside max_iter=10.
    # A 0 driver gate forces the distributed loop (the small-graph
    # short-circuit would otherwise solve this on the driver).
    monkeypatch.setattr(graph, "DRIVER_GATE", 0)
    edges = [(i, i + 1) for i in range(63)]
    got = _cc(spark, edges, max_iter=10)
    assert got == {(i, 0) for i in range(64)}


def test_driver_shortcircuit_equals_distributed_loop(spark, monkeypatch):
    # the small-graph union-find path must produce exactly the
    # distributed fixpoint — same rows, same types
    edges = (
        [(i, i + 1) for i in range(0, 30, 2)]
        + [(9, 4), (4, 7), (8, 9), (100, 3), (50, 51), (51, 0)]
    )
    fast = _cc(spark, edges)  # gate default: driver path
    monkeypatch.setattr(graph, "DRIVER_GATE", 0)
    slow = _cc(spark, edges)  # distributed loop
    assert fast == slow


def test_component_is_min_reachable_id_regardless_of_edge_direction(spark):
    # edges deliberately point "away" from the minimum
    got = _cc(spark, [(9, 4), (4, 7), (8, 9)])
    assert got == {(4, 4), (7, 4), (8, 4), (9, 4)}


def test_nonconvergence_raises(spark, monkeypatch):
    monkeypatch.setattr(graph, "DRIVER_GATE", 0)
    df = spark.createDataFrame([(i, i + 1) for i in range(20)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=1)


def test_cluster_survivors_keeps_min_per_cluster_and_all_nonmembers(spark):
    docs = spark.range(8).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame([(1, 2), (2, 5), (6, 7)], ["id_a", "id_b"])
    kept = sorted(
        r.doc_id for r in dedup_cluster_survivors(docs, pairs, "doc_id").collect()
    )
    # cluster {1,2,5} keeps 1; cluster {6,7} keeps 6; 0,3,4 untouched
    assert kept == [0, 1, 3, 4, 6]


def test_deterministic_across_repartitionings(spark):
    edges = [(i, i + 1) for i in range(0, 40, 2)] + [(0, 38)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    a = sorted(map(tuple, connected_components(df).collect()))
    b = sorted(map(tuple, connected_components(df.repartition(7)).collect()))
    assert a == b


# ---- triangle counting -------------------------------------------------


def _brute_triangles(edges):
    import itertools

    adj = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({n for e in adj for n in e})
    counts = {}
    for x, y, z in itertools.combinations(nodes, 3):
        if (x, y) in adj and (y, z) in adj and (x, z) in adj:
            for n in (x, y, z):
                counts[n] = counts.get(n, 0) + 1
    return counts


def test_triangle_count_matches_brute_force(spark):
    from knowledge_model_spark.operators.graph import triangle_count

    # K4 on {0..3} (4 triangles, 3 per node) + a pendant + a separate
    # wedge with no closing edge + a duplicate/reversed edge
    edges = (
        [(a, b) for a in range(4) for b in range(a + 1, 4)]
        + [(3, 9), (20, 21), (21, 22), (1, 0), (2, 1)]
    )
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {(r.node, r.triangles) for r in triangle_count(df).collect()}
    assert got == set(_brute_triangles(edges).items())


def test_triangle_count_empty_and_triangle_free(spark):
    from knowledge_model_spark.operators.graph import triangle_count

    chain = spark.createDataFrame([(i, i + 1) for i in range(10)], ["id_a", "id_b"])
    assert triangle_count(chain).count() == 0
    empty = chain.filter("id_a < 0")
    assert triangle_count(empty).count() == 0


def test_triangle_count_partition_invariant_on_skewed_hub(spark):
    from knowledge_model_spark.operators.graph import triangle_count

    # hub 0 connected to 1..40, plus rim edges (i, i+1) → 39 triangles,
    # hub participates in all of them; degree orientation keeps the
    # hub from enumerating its 40*39/2 wedge pairs
    edges = [(0, i) for i in range(1, 41)] + [(i, i + 1) for i in range(1, 40)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    a = sorted(map(tuple, triangle_count(df).collect()))
    b = sorted(map(tuple, triangle_count(df.repartition(13)).collect()))
    assert a == b
    assert dict(a)[0] == 39


def test_incremental_cc_equals_full_recompute(spark):
    from knowledge_model_spark.operators.graph import (
        connected_components,
        connected_components_incremental,
    )

    old_edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (30, 31)], "id_a long, id_b long"
    )
    # new batch: merges two old components (3-10), extends one (21-22),
    # and adds a brand-new component (40-41)
    new_edges = spark.createDataFrame(
        [(3, 10), (21, 22), (40, 41)], "id_a long, id_b long"
    )
    old_labels = connected_components(old_edges)
    inc = {
        (r["node"], r["component"])
        for r in connected_components_incremental(old_labels, new_edges).collect()
    }
    full = {
        (r["node"], r["component"])
        for r in connected_components(old_edges.unionByName(new_edges)).collect()
    }
    assert inc == full
    # the merged component took the global min root
    comp = dict(inc)
    assert comp[11] == 1 and comp[22] == 20 and comp[41] == 40


def test_incremental_cc_empty_batch_is_identity(spark):
    from knowledge_model_spark.operators.graph import (
        connected_components,
        connected_components_incremental,
    )

    old_edges = spark.createDataFrame([(5, 6), (6, 7)], "id_a long, id_b long")
    old_labels = connected_components(old_edges)
    empty = spark.createDataFrame([], "id_a long, id_b long")
    inc = {
        (r["node"], r["component"])
        for r in connected_components_incremental(old_labels, empty).collect()
    }
    assert inc == {(r["node"], r["component"]) for r in old_labels.collect()}


def test_kcore_peels_tendril_cascade(spark):
    from knowledge_model_spark.operators.graph import kcore

    # 4-clique {0,1,2,3} + tendril 3-4-5-6: k=2 must cascade 3 peel
    # rounds (6, then 5, then 4) and keep the clique at degree 3.
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 6)],
        "id_a long, id_b long",
    )
    out = {r["node"]: r["core_degree"] for r in kcore(edges, k=2).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}


def test_kcore_k3_keeps_only_clique(spark):
    from knowledge_model_spark.operators.graph import kcore

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4), (4, 5)],
        "id_a long, id_b long",
    )
    out = {r["node"]: r["core_degree"] for r in kcore(edges, k=3).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}
    # k above max degree: empty core
    assert kcore(edges, k=5).count() == 0


def test_kcore_duplicate_and_self_edges_ignored(spark):
    from knowledge_model_spark.operators.graph import kcore

    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (0, 1), (0, 0), (1, 2), (2, 0)],
        "id_a long, id_b long",
    )
    out = {r["node"]: r["core_degree"] for r in kcore(edges, k=2).collect()}
    # triangle 0-1-2 after dedup/self-loop removal
    assert out == {0: 2, 1: 2, 2: 2}


def test_bfs_hops_min_distance_and_unreachable(spark):
    from knowledge_model_spark.operators.graph import bfs_hops

    # two chains: 0-1-2-3 (reachable from 0) and 10-11 (unreachable);
    # plus a shortcut 0-3 making hops(3) = 1, not 3.
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (0, 3), (10, 11)], "id_a long, id_b long"
    )
    src = spark.createDataFrame([(0,)], "node long")
    out = {r["node"]: r["hops"] for r in bfs_hops(edges, src).collect()}
    assert out == {0: 0, 1: 1, 2: 2, 3: 1}


def test_bfs_multi_source_takes_nearest(spark):
    from knowledge_model_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    src = spark.createDataFrame([(0,), (4,)], "node long")
    out = {r["node"]: r["hops"] for r in bfs_hops(edges, src).collect()}
    assert out == {0: 0, 4: 0, 1: 1, 3: 1, 2: 2}


def test_kcore_and_bfs_driver_paths_equal_distributed(spark, monkeypatch):
    from knowledge_model_spark.operators.graph import bfs_hops, kcore

    edges = spark.createDataFrame(
        [(d, d + o) for d in range(0, 60, 10) for o in (1, 2, 3)]
        + [(d + 1, d + 2) for d in range(0, 60, 10)]
        + [(3, 14), (23, 44)],
        "id_a long, id_b long",
    )
    src = spark.createDataFrame([(0,), (23,)], "node long")
    kc_fast = sorted(map(tuple, kcore(edges, k=2).collect()))
    b_fast = sorted(map(tuple, bfs_hops(edges, src).collect()))
    monkeypatch.setattr(graph, "DRIVER_GATE", 0)  # distributed loops
    assert sorted(map(tuple, kcore(edges, k=2).collect())) == kc_fast
    assert sorted(map(tuple, bfs_hops(edges, src).collect())) == b_fast


def test_personalized_pagerank_unreachable_gets_zero(spark):
    from knowledge_model_spark.operators.graph import personalized_pagerank

    # two directed components: 1->2->3 (seeded at 1) and 10->11
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    out = {r["node"]: r["rank_e12"] for r in
           personalized_pagerank(edges, seeds, iterations=3).collect()}
    # unreachable component holds zero mass; seed side holds positive
    assert out[10] == 0 and out[11] == 0
    assert out[1] > 0 and out[2] > 0 and out[3] > 0


def test_personalized_pagerank_seed_concentration(spark):
    from knowledge_model_spark.operators.graph import personalized_pagerank, pagerank

    # star: center 0 <-> leaves 1..4; seeding at leaf 1 must rank 1
    # above the other leaves (uniform pagerank ties all leaves)
    edges = []
    for leaf in (1, 2, 3, 4):
        edges += [(0, leaf), (leaf, 0)]
    e = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    ppr = {r["node"]: r["rank_e12"] for r in
           personalized_pagerank(e, seeds, iterations=4).collect()}
    assert ppr[1] > ppr[2] == ppr[3] == ppr[4]
    uni = {r["node"]: r["rank_e12"] for r in pagerank(e, iterations=4).collect()}
    assert uni[1] == uni[2] == uni[3] == uni[4]


def test_personalized_pagerank_empty_seeds(spark):
    from knowledge_model_spark.operators.graph import personalized_pagerank

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    seeds = spark.createDataFrame([(99,)], "node long")  # not in graph
    assert personalized_pagerank(edges, seeds).count() == 0


def test_link_prediction_hub_cap_is_lossless_for_true_pairs(spark):
    """The max_degree lever must drop hub-mediated wedges (the Σdeg²
    blowup) without losing genuinely-similar pairs: on a graph where
    nodes 1..4 form a near-clique and node 0 is a hub touching
    everything, capping at the hub's degree-1 removes the hub's wedge
    fan-out while the clique pair survives with its Jaccard intact
    (denominators keep TRUE degrees)."""
    from knowledge_model_spark.operators.graph import link_prediction_jaccard

    # hub 0 — 1..8; clique-ish 1-2, 1-3, 2-3, 2-4, 3-4  (1,4 not adjacent)
    hub = [(0, i) for i in range(1, 9)]
    cliq = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]
    edges = spark.createDataFrame(hub + cliq, ["a", "b"])

    full = {
        (r["id_a"], r["id_b"]): (r["common"], r["jaccard"])
        for r in link_prediction_jaccard(edges, "a", "b", k=None).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): (r["common"], r["jaccard"])
        for r in link_prediction_jaccard(
            edges, "a", "b", max_degree=4, k=None
        ).collect()
    }
    # hub-only pairs (e.g. 5,6: only wedge is through 0) disappear
    assert (5, 6) in full and (5, 6) not in capped
    # the true pair (1,4) survives: N(1) == N(4) == {0,2,3}, so the
    # full score is exactly 1.0; capping drops the hub wedge (common
    # 3 -> 2) while denominators keep TRUE degrees (3+3-2) — the
    # documented lower-bound trade, not a silent degree distortion
    assert full[(1, 4)] == (3, 1.0)
    assert capped[(1, 4)] == (2, 2 / (3 + 3 - 2))


def test_degree_powerlaw_bipartite_encoding_invariant(spark):
    """Pin the generator invariant graph_degree_powerlaw's r11 plan
    relies on (VERDICT r11 item 6): its union-level `.distinct()` was
    dropped because the 2k / 2k+1 node encoding makes forward edges
    (even, odd) and reversed edges (odd, even) — disjoint by parity, so
    the union dedups nothing.  If the edge source ever changes encoding
    the no-op-distinct argument silently breaks; this asserts the
    parity invariant on the real edge table so the break is loud."""
    from knowledge_model_spark.plans.graph_queries import (
        graph_degree_powerlaw,  # noqa: F401 — import pins the query exists
    )
    from knowledge_model_spark.session import load_tables
    from pyspark.sql import functions as F

    t = load_tables(spark, os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"))
    edges = (
        t["orders"]
        .join(t["lineitem"],
              t["orders"]["o_orderkey"] == t["lineitem"]["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).cast("long").alias("src"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("dst"),
        )
    )
    bad = edges.filter(
        (F.col("src") % 2 != 0) | (F.col("dst") % 2 != 1)
    ).count()
    assert bad == 0, "bipartite even/odd encoding violated: " \
        "graph_degree_powerlaw's dropped distinct is no longer a no-op"
