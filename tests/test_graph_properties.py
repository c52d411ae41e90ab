"""Differential property tests for the iterative graph and cluster
operators: seeded hypothesis graphs, each operator against a pure-Python
oracle.

The graphs are small (8 node ids, up to 14 edges), so drawing from them
yields self-loops, duplicate and parallel edges, cycles and disconnected
parts. The explicit examples pin the empty graph, one graph with all of
those, and a chain deep enough that ``dup_clusters(star_after=1)`` takes
the star fallback. Every example runs Spark jobs, so budgets stay small.
"""

from __future__ import annotations

import collections
import heapq

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from corkscrew_spark.operators import graph
from corkscrew_spark.operators.dedup import dup_clusters

NODES = [f"n{i}" for i in range(8)]
EDGES = st.lists(st.tuples(st.sampled_from(NODES), st.sampled_from(NODES)),
                 max_size=14)
CHAIN = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(10)]
SHAPES = (
    [],
    # self-loops (one on a node with no other edge), a duplicate edge, a
    # cycle and more components
    [("n0", "n0"), ("n0", "n1"), ("n0", "n1"), ("n1", "n2"), ("n2", "n0"),
     ("n3", "n4"), ("n5", "n5")],
    CHAIN,
)

SETTINGS = settings(max_examples=5, deadline=None, derandomize=True,
                    suppress_health_check=[HealthCheck.function_scoped_fixture])


def with_shapes(**fixed):
    """Run the test on every named shape, with the other arguments set
    to ``fixed``, as well as on the drawn graphs."""
    def wrap(test):
        for shape in reversed(SHAPES):
            test = example(pairs=shape, **fixed)(test)
        return test
    return wrap


def _frame(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def _adjacency(pairs, directed):
    adj = collections.defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        if not directed:
            adj[b].add(a)
    return adj


def _bfs(adj, seeds, max_depth):
    dist = {s: 0 for s in seeds}
    frontier = sorted(dist)
    for depth in range(1, max_depth + 1):
        frontier = sorted({v for u in frontier for v in adj[u]} - dist.keys())
        for v in frontier:
            dist[v] = depth
    return dist


def _lexmin_path(adj, src, dst, max_depth):
    """(depth, path) of the lexicographically smallest min-depth path."""
    if src == dst:
        return (0, [src])
    best = {src: [src]}
    layer = {src: [src]}
    for depth in range(1, max_depth + 1):
        nxt = {}
        for u, path in layer.items():
            for v in adj[u]:
                if v not in best and (v not in nxt or path + [v] < nxt[v]):
                    nxt[v] = path + [v]
        if dst in nxt:
            return (depth, nxt[dst])
        if not nxt:
            return None
        best.update(nxt)
        layer = nxt
    return None


def _components(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def _simple_adjacency(pairs):
    return _adjacency([(a, b) for a, b in pairs if a != b], directed=False)


@SETTINGS
@with_shapes(seed="n0", max_depth=3, directed=False)
@given(pairs=EDGES, seed=st.sampled_from(NODES), max_depth=st.integers(0, 4),
       directed=st.booleans())
def test_k_hop_matches_bfs(spark, pairs, seed, max_depth, directed):
    got = {r.node: r.distance for r in graph.k_hop(
        _frame(spark, pairs), [seed], max_depth=max_depth,
        directed=directed).collect()}
    assert got == _bfs(_adjacency(pairs, directed), [seed], max_depth)


@SETTINGS
@with_shapes(src="n0", dst="n1", directed=False)
@given(pairs=EDGES, src=st.sampled_from(NODES), dst=st.sampled_from(NODES),
       directed=st.booleans())
def test_shortest_path_bfs_and_bidirectional_agree(spark, pairs, src, dst,
                                                   directed):
    e = _frame(spark, pairs)
    uni = [tuple(r) for r in graph.shortest_path(
        e, src, dst, directed=directed).collect()]
    bi = [tuple(r) for r in graph.shortest_path_bidirectional(
        e, src, dst, directed=directed).collect()]
    want = _lexmin_path(_adjacency(pairs, directed), src, dst, 10)
    assert uni == bi == ([want] if want else [])


@SETTINGS
@with_shapes(dag=False)
@given(pairs=EDGES, dag=st.booleans())
def test_topo_levels_matches_kahn(spark, pairs, dag):
    if dag:
        pairs = [(min(a, b), max(a, b)) for a, b in pairs if a != b]
    adj = _adjacency(set(pairs), directed=True)
    nodes = {n for p in pairs for n in p}
    indeg = collections.Counter(b for a, b in set(pairs))
    level = {n: 0 for n in nodes if indeg[n] == 0}
    ready = list(level)
    while ready:
        u = ready.pop()
        for v in adj[u]:
            level[v] = max(level.get(v, 0), level[u] + 1)
            indeg[v] -= 1
            if indeg[v] == 0:
                ready.append(v)
    e = _frame(spark, pairs)
    if len(level) < len(nodes):
        with pytest.raises(ValueError, match="cycle"):
            graph.topo_levels(e)
    else:
        got = {r.node: r.level for r in graph.topo_levels(e).collect()}
        assert got == level


@SETTINGS
@with_shapes(weights=list(range(14)), directed=True)
@given(pairs=EDGES, weights=st.lists(st.integers(0, 9), min_size=14,
                                     max_size=14),
       directed=st.booleans())
def test_weighted_shortest_paths_matches_dijkstra(spark, pairs, weights,
                                                  directed):
    wedges = [(a, b, float(w)) for (a, b), w in zip(pairs, weights)]
    adj = collections.defaultdict(list)
    for a, b, w in wedges:
        adj[a].append((b, w))
        if not directed:
            adj[b].append((a, w))
    # Dijkstra on (dist, hops): the operator breaks equal-cost ties
    # toward fewer hops.
    best = {}
    heap = [(0.0, 0, "n0")]
    while heap:
        d, h, u = heapq.heappop(heap)
        if u in best:
            continue
        best[u] = (d, h)
        for v, w in adj[u]:
            if v not in best:
                heapq.heappush(heap, (d + w, h + 1, v))
    e = spark.createDataFrame(wedges, "src string, dst string, weight double")
    got = {r.node: (r.dist, r.hops) for r in graph.weighted_shortest_paths(
        e, "n0", directed=directed).collect()}
    assert got == best


@SETTINGS
@with_shapes()
@given(pairs=EDGES)
def test_connected_components_match_union_find(spark, pairs):
    want = _components(pairs)
    e = _frame(spark, pairs)
    star = {r.node: r.component
            for r in graph.connected_components_star(e).collect()}
    label = {r.node: r.component
             for r in graph.Graph(e).connected_components("label").collect()}
    # star_after=1 routes every graph of diameter > 1 to the star
    # fallback after one two-hop round.
    fallback = {r.doc_id: r.cluster_id for r in dup_clusters(
        e.toDF("doc_a", "doc_b"), star_after=1).collect()}
    assert star == label == fallback == want


@SETTINGS
@with_shapes(k=2)
@given(pairs=EDGES, k=st.integers(1, 3))
def test_k_core_matches_peeling(spark, pairs, k):
    adj = _simple_adjacency(pairs)
    alive = set(adj)
    while True:
        low = {n for n in alive if len(adj[n] & alive) < k}
        if not low:
            break
        alive -= low
    want = {n: len(adj[n] & alive) for n in alive}
    got = {r.node: r.degree
           for r in graph.k_core(_frame(spark, pairs), k).collect()}
    assert got == want


@SETTINGS
@with_shapes()
@given(pairs=EDGES)
def test_triangle_count_matches_brute_force(spark, pairs):
    adj = _simple_adjacency(pairs)
    want = {n: sum(1 for v in adj[n] for w in adj[n] if v < w and w in adj[v])
            for n in adj}
    got = {r.node: r.triangles
           for r in graph.triangle_count(_frame(spark, pairs)).collect()}
    assert got == want


@SETTINGS
@with_shapes(iters=3)
@given(pairs=EDGES, iters=st.integers(0, 4))
def test_label_propagation_matches_simulation(spark, pairs, iters):
    adj = _simple_adjacency(pairs)
    labels = {n: n for n in adj}
    for _ in range(iters):
        nxt = {}
        for n in adj:
            votes = collections.Counter(labels[m] for m in adj[n])
            votes[labels[n]] += 1
            nxt[n] = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        labels = nxt
    got = {r.node: r.community for r in graph.label_propagation(
        _frame(spark, pairs), iters=iters).collect()}
    assert got == labels


@SETTINGS
@with_shapes(picks=[0, 0])
@given(pairs=EDGES, picks=st.lists(st.integers(0, 13), min_size=1,
                                   max_size=3))
def test_pagerank_conserves_mass(spark, pairs, picks):
    e = _frame(spark, pairs)
    classic = [r.rank for r in graph.pagerank(e, iters=5).collect()]
    if not pairs:
        assert classic == []
        return
    assert sum(classic) == pytest.approx(1.0, abs=1e-9)
    # personalized, with repeated seeds: a repeat must not drop mass
    nodes = sorted({n for p in pairs for n in p})
    seeds = [nodes[i % len(nodes)] for i in picks]
    personal = [r.rank for r in graph.pagerank(
        e, iters=5, reset_nodes=seeds).collect()]
    assert sum(personal) == pytest.approx(1.0, abs=1e-9)
