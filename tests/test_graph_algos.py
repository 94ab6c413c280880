"""pagerank / triangle_count semantics (operators/graph_algos.py).

Every case is pinned against a brute-force pure-python recomputation of
the SAME fixed-iteration definition (and for triangles, exhaustive
enumeration), so the Spark plan and the sf0.01 DuckDB gate oracles are
three independent derivations of one spec.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from entity_resolution__spark.operators.graph_algos import (
    pagerank,
    symmetrize,
    triangle_count,
)


def _pagerank_ref(edges, damping=0.85, iterations=10):
    """Dict-based reference of the exact operator definition: directed
    weighted edges [(src, dst, w)], dangling mass redistributed."""
    out = {}
    nodes = set()
    for s, d, w in edges:
        if s == d:
            continue
        out.setdefault(s, {})
        out[s][d] = max(out[s].get(d, 0.0), w)
        nodes.update((s, d))
    n = len(nodes)
    if n == 0:
        return {}
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        dangling = sum(rank[v] for v in nodes if v not in out)
        nxt = {v: (1.0 - damping) / n + damping * dangling / n for v in nodes}
        for s, nbrs in out.items():
            tot = sum(nbrs.values())
            for d, w in nbrs.items():
                nxt[d] += damping * rank[s] * (w / tot)
        rank = nxt
    return rank


def _tri_ref(edges):
    adj = {}
    for u, v in edges:
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    counts = {v: 0 for v in adj}
    for a, b, c in itertools.combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for x in (a, b, c):
                counts[x] += 1
    return counts


def _edges_df(spark, rows, weighted=False):
    schema = "src string, dst string" + (", weight double" if weighted else "")
    return spark.createDataFrame(rows, schema)


def _collect_ranks(df):
    return {r["node"]: r["rank"] for r in df.collect()}


def test_pagerank_cycle_is_uniform(spark):
    # every node of a directed cycle keeps exactly 1/n at every iteration
    rows = [(str(i), str((i + 1) % 5)) for i in range(5)]
    got = _collect_ranks(pagerank(_edges_df(spark, rows), iterations=7))
    assert set(got) == {str(i) for i in range(5)}
    for v in got.values():
        assert v == pytest.approx(0.2, abs=1e-12)


def test_pagerank_matches_reference_star_and_chain(spark):
    # undirected star (hub "h") and a directed chain with a dangling tail
    star = [("h", f"s{i}", 1.0) for i in range(4)]
    sym = symmetrize(_edges_df(spark, star, weighted=True))
    got = _collect_ranks(pagerank(sym, iterations=10))
    ref = _pagerank_ref(
        [(s, d, 1.0) for s, d in [(a, b) for a, b, _ in star]]
        + [(d, s, 1.0) for s, d, _ in star],
        iterations=10,
    )
    assert got == pytest.approx(ref, abs=1e-9)
    assert got["h"] > got["s0"]

    chain = [("a", "b", 1.0), ("b", "c", 1.0)]  # c is dangling
    got2 = _collect_ranks(pagerank(_edges_df(spark, chain, weighted=True)))
    ref2 = _pagerank_ref(chain)
    assert got2 == pytest.approx(ref2, abs=1e-9)
    assert sum(got2.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_weighted_split(spark):
    # a sends 3/4 of its mass to b, 1/4 to c — weights must drive shares
    rows = [("a", "b", 3.0), ("a", "c", 1.0), ("b", "a", 1.0), ("c", "a", 1.0)]
    got = _collect_ranks(pagerank(_edges_df(spark, rows, weighted=True), iterations=6))
    ref = _pagerank_ref(rows, iterations=6)
    assert got == pytest.approx(ref, abs=1e-9)
    assert got["b"] > got["c"]


def test_pagerank_parallel_edges_and_self_loops_deduped(spark):
    rows = [("a", "b"), ("a", "b"), ("b", "a"), ("a", "a")]
    got = _collect_ranks(pagerank(_edges_df(spark, rows), iterations=4))
    ref = _pagerank_ref([("a", "b", 1.0), ("b", "a", 1.0)], iterations=4)
    assert got == pytest.approx(ref, abs=1e-12)


def test_pagerank_empty(spark):
    assert pagerank(_edges_df(spark, [])).count() == 0


def test_triangles_cliques_and_paths(spark):
    k4 = [(a, b) for a, b in itertools.combinations("abcd", 2)]
    got = {r["node"]: r["triangles"] for r in triangle_count(_edges_df(spark, k4)).collect()}
    assert got == {v: 3 for v in "abcd"}

    path = [("a", "b"), ("b", "c"), ("c", "d")]
    got = {r["node"]: r["triangles"] for r in triangle_count(_edges_df(spark, path)).collect()}
    assert got == {v: 0 for v in "abcd"}


def test_triangles_match_reference_on_random_graph(spark):
    # deterministic pseudo-random graph: edge {i, j} present iff
    # (i*31 + j*17) % 5 < 2 — dense enough for hubs + overlap
    nodes = [f"n{i:02d}" for i in range(18)]
    rows = [
        (nodes[i], nodes[j])
        for i in range(18)
        for j in range(i + 1, 18)
        if (i * 31 + j * 17) % 5 < 2
    ]
    ref = _tri_ref(rows)
    got = {r["node"]: r["triangles"] for r in triangle_count(_edges_df(spark, rows)).collect()}
    assert got == ref
    assert sum(ref.values()) > 0  # non-vacuous


def test_triangles_duplicate_and_reversed_edges_collapse(spark):
    rows = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"), ("a", "c")]
    got = {r["node"]: r["triangles"] for r in triangle_count(_edges_df(spark, rows)).collect()}
    assert got == {"a": 1, "b": 1, "c": 1}


def test_triangles_empty(spark):
    assert triangle_count(_edges_df(spark, [])).count() == 0


def test_triangles_on_both_sides_of_driver_budget(
    spark, monkeypatch, no_auto_broadcast
):
    """The closing edge list broadcasts iff the oriented edge count is
    within `driver_rows`; one edge over it keeps a shuffle join, with
    the same counts."""
    from entity_resolution__spark.operators import graph_algos

    nodes = [f"n{i:02d}" for i in range(18)]
    rows = [
        (nodes[i], nodes[j])
        for i in range(18)
        for j in range(i + 1, 18)
        if (i * 31 + j * 17) % 5 < 2
    ]
    got, plans = {}, {}
    for budget in (len(rows), len(rows) - 1):
        monkeypatch.setattr(graph_algos, "driver_rows", lambda df, b=budget: b)
        out = triangle_count(_edges_df(spark, rows))
        got[budget] = {r["node"]: r["triangles"] for r in out.collect()}
        plans[budget] = out._jdf.queryExecution().executedPlan().toString()
    assert got[len(rows)] == got[len(rows) - 1] == _tri_ref(rows)
    assert "BroadcastHashJoin" in plans[len(rows)]
    assert "BroadcastHashJoin" not in plans[len(rows) - 1]
