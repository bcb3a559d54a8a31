"""K7 connected components vs a union-find oracle (SURVEY.md §5)."""

import random

from kg.graph import connected_components, same_as_edges


def uf_components(edges, vertices):
    parent = {v: v for v in vertices}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    # canonical: min id per component
    comp = {}
    for v in vertices:
        comp[v] = find(v)
    # find() roots are min-ids because merges always point high->low
    return comp


def _run(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["id"]: r["component"] for r in connected_components(df).collect()}


def test_small_graph_shortcut_matches_distributed(spark):
    """The driver union-finds label the same edges as the distributed
    loop: the one behind stage_components (the kg_components query),
    and the one the dictionary compile uses (same_as_components).
    Each edge becomes an alias shared by its two ends."""
    import pandas as pd

    from kg.graph import SAME_AS_PRIOR, same_as_components
    from kg.pipeline import stage_components

    edges = [(1, 2), (2, 3), (10, 11), (5, 3), (7, 6), (12, 11), (20, 21)]
    want = _run(spark, edges)
    alias_pdf = pd.DataFrame(
        [(f"e{a}_{b}", v, SAME_AS_PRIOR) for a, b in edges for v in (a, b)],
        columns=["alias", "entity_id", "prior"],
    )
    aliases = spark.createDataFrame(alias_pdf, "alias string, entity_id long, prior double")
    assert {r["id"]: r["component"] for r in stage_components(aliases).collect()} == want
    got = same_as_components(alias_pdf)
    assert dict(zip(got["id"], got["component"])) == want


def test_chain_graph(spark):
    """Path graph stresses the O(log n) pointer jumping."""
    edges = [(i, i + 1) for i in range(30)]
    got = _run(spark, edges)
    assert got == {i: 0 for i in range(31)}


def test_two_cliques_and_singleton(spark):
    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12)]
    got = _run(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_edge_order_permutation_invariant(spark):
    rng = random.Random(3)
    vertices = list(range(100))
    edges = [
        (rng.randrange(100), rng.randrange(100)) for _ in range(60)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    want = uf_components(edges, vertices)
    for trial in range(2):
        perm = edges[:]
        rng.shuffle(perm)
        got = _run(spark, perm)
        for a, b in edges:
            assert got[a] == got[b]
        # canonical min-id labels match union-find exactly
        reachable = {v for e in edges for v in e}
        assert {v: want[v] for v in reachable} == got


def test_same_as_edges_only_high_prior(spark):
    from kg.fixtures import aliases_df

    edges = same_as_edges(aliases_df(spark)).collect()
    # exactly the 5 org Holdings variants pair with their stem org
    assert len(edges) == 5
    for e in edges:
        assert e["src"] < e["dst"]


def test_idempotent_on_component_output(spark):
    """Feeding component assignments back as edges is a fixpoint."""
    edges = [(1, 2), (2, 3), (7, 8)]
    got = _run(spark, edges)
    again = _run(spark, [(k, v) for k, v in got.items() if k != v])
    assert again == got


def test_pagerank_matches_numpy_reference(spark):
    """5-sweep PageRank vs an independent dense numpy power iteration
    on a small directed graph with a sink (node 4) and an isolated
    vertex (node 9) — leak semantics and the (1-d)/N floor must both
    match to 1e-8."""
    import numpy as np

    from kg.graph import pagerank

    edge_list = [(1, 2), (2, 3), (3, 1), (3, 4), (5, 4)]
    verts_list = [1, 2, 3, 4, 5, 9]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    verts = spark.createDataFrame([(v,) for v in verts_list], "id long")
    got = {r["id"]: r["rank"] for r in pagerank(edges, verts, iters=5).collect()}

    idx = {v: i for i, v in enumerate(verts_list)}
    n, d = len(verts_list), 0.85
    out = {v: sum(1 for s, _ in edge_list if s == v) for v in verts_list}
    p = np.full(n, 1.0 / n)
    for _ in range(5):
        nxt = np.full(n, (1.0 - d) / n)
        for s, t in edge_list:
            nxt[idx[t]] += d * p[idx[s]] / out[s]
        p = nxt
    for v in verts_list:
        assert abs(got[v] - p[idx[v]]) < 1e-8, (v, got[v], p[idx[v]])
    # isolated vertex sits exactly on the floor
    assert got[9] == round((1 - d) / n, 8)
    # rerun is bit-identical (no rand, deterministic joins)
    again = {r["id"]: r["rank"] for r in pagerank(edges, verts, iters=5).collect()}
    assert again == got


def test_triangle_counts_star_plus_edge(spark):
    """Star 0-{1,2,3,4} plus edge 1-2: exactly one triangle (0,1,2).
    Hand-checkable, includes a zero-count vertex and a hub whose
    edges all orient INTO it under degree ordering."""
    from kg.graph import triangle_counts

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4), (1, 2)], "src long, dst long"
    )
    verts = spark.createDataFrame([(i,) for i in range(5)], "id long")
    got = {r["id"]: r["n_tri"] for r in triangle_counts(edges, verts).collect()}
    assert got == {0: 1, 1: 1, 2: 1, 3: 0, 4: 0}


def test_triangle_counts_k4(spark):
    """K4: every vertex sits in C(3,2)=3 triangles, 4 triangles total
    — each counted once despite the orientation tie-breaks."""
    from kg.graph import triangle_counts

    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)],
        "src long, dst long",
    )
    verts = spark.createDataFrame([(i,) for i in range(4)], "id long")
    got = {r["id"]: r["n_tri"] for r in triangle_counts(edges, verts).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_label_propagation_two_cliques(spark):
    """Two triangles bridged by one edge: sync LPA must give each
    triangle a uniform label, matching an independent python
    reference sweep-for-sweep."""
    from kg.graph import label_propagation

    e = [(0, 1), (0, 2), (1, 2), (10, 11), (10, 12), (11, 12), (2, 10)]
    edges = spark.createDataFrame(e, "src long, dst long")
    verts = spark.createDataFrame(
        [(i,) for i in [0, 1, 2, 10, 11, 12]], "id long"
    )
    got = {r["id"]: r["lab"] for r in label_propagation(edges, verts).collect()}

    # independent reference: synchronous sweeps, most-frequent
    # neighbor label, ties to smallest
    from collections import Counter

    adj = {}
    for a, b in e:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    lab = {v: v for v in [0, 1, 2, 10, 11, 12]}
    for _ in range(4):
        new = {}
        for v in lab:
            cnt = Counter(lab[u] for u in adj.get(v, []))
            if cnt:
                top = max(cnt.values())
                new[v] = min(l for l, n in cnt.items() if n == top)
            else:
                new[v] = lab[v]
        lab = new
    assert got == lab
    assert len({got[v] for v in (0, 1, 2)}) == 1  # uniform per clique
    assert len({got[v] for v in (10, 11, 12)}) == 1


def test_label_propagation_isolated_keeps_label(spark):
    """Isolated vertices keep their own label; a lone edge exhibits
    the KNOWN sync-LPA 2-cycle (each endpoint adopts the other's
    label every sweep — on bipartite structure synchronous LPA
    oscillates by design, see the operator docstring), so after an
    EVEN sweep count both endpoints are back to their own labels."""
    from kg.graph import label_propagation

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    verts = spark.createDataFrame([(1,), (2,), (99,)], "id long")
    got = {r["id"]: r["lab"] for r in label_propagation(edges, verts).collect()}
    assert got[99] == 99 and got[1] == 1 and got[2] == 2


def test_bfs_hops_hand_graph(spark):
    """Path 0-1-2-3 plus a shortcut 0-3: BFS must take the shortcut
    (hops(3)=1, not 3); vertex 9 is unreachable -> -1."""
    from kg.graph import bfs_hops

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (0, 3)], "src long, dst long"
    )
    verts = spark.createDataFrame([(i,) for i in [0, 1, 2, 3, 9]], "id long")
    got = {r["id"]: r["hops"] for r in bfs_hops(edges, verts, 0).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 9: -1}


def test_bfs_hops_sweep_cap_truncates(spark):
    """A 10-vertex path with iters=3: vertices beyond 3 hops must
    report the -1 sentinel, not a wrong finite distance."""
    from kg.graph import bfs_hops

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    verts = spark.createDataFrame([(i,) for i in range(10)], "id long")
    got = {
        r["id"]: r["hops"]
        for r in bfs_hops(edges, verts, 0, iters=3).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: -1, 5: -1, 6: -1, 7: -1, 8: -1, 9: -1}
