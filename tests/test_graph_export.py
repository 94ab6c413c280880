"""Graph communities (reference G7 data side): LPA, modularity,
Louvain."""

from __future__ import annotations


def _edges(spark):
    # two triangles bridged by d-e, plus an isolated pair x-y
    rows = [
        ("a", "b"), ("b", "c"), ("a", "c"),
        ("c", "d"),
        ("d", "e"),
        ("e", "f"), ("f", "g"), ("e", "g"),
        ("x", "y"),
    ]
    return spark.createDataFrame(rows, ["src", "dst"])


def test_label_propagation_components(spark):
    from entity_resolution__spark.operators.graph_export import (
        label_propagation_communities,
    )

    out = {
        r["node"]: r["community"]
        for r in label_propagation_communities(
            _edges(spark), weighted=False
        ).collect()
    }
    # min-label mode: connected subgraph a..g converges to min label 'a';
    # x-y to 'x' (per-component coloring)
    assert all(out[n] == "a" for n in "abcdefg")
    assert out["x"] == out["y"] == "x"


def test_weighted_lpa_splits_bridged_communities(spark):
    """G7 weighted-majority LPA (round-2 VERDICT #7): two K4 communities
    joined by one weak bridge stay SEPARATE — min-label LPA merges them
    into one component-wide label regardless of weights."""
    from itertools import combinations

    from entity_resolution__spark.operators.graph_export import (
        label_propagation_communities,
    )

    rows = [(u, v, 1.0) for u, v in combinations("abcd", 2)]
    rows += [(u, v, 1.0) for u, v in combinations("efgh", 2)]
    rows += [("d", "e", 0.1)]  # weak bridge
    edges = spark.createDataFrame(rows, ["src", "dst", "weight"])
    out = {
        r["node"]: r["community"]
        for r in label_propagation_communities(edges, max_iter=20).collect()
    }
    left = {out[n] for n in "abcd"}
    right = {out[n] for n in "efgh"}
    assert len(left) == 1 and len(right) == 1
    assert left != right
    # the min-label variant demonstrably gets this graph wrong (one label)
    mono = {
        r["community"]
        for r in label_propagation_communities(edges, weighted=False).collect()
    }
    assert len(mono) == 1


def test_weighted_lpa_no_bipartite_oscillation(spark):
    """Round-3 review: without a self-vote, synchronous LPA 2-cycles on
    bipartite structures — a single edge returned two singletons and a
    star split its center from the leaves. The self-vote (max incident
    weight, min-label tie-break) must yield ONE community per component."""
    from entity_resolution__spark.operators.graph_export import (
        label_propagation_communities,
    )

    pair = spark.createDataFrame([("x", "y")], ["src", "dst"])
    out = {r["node"]: r["community"]
           for r in label_propagation_communities(pair).collect()}
    assert out["x"] == out["y"] == "x"

    star = spark.createDataFrame(
        [("c", f"l{i}") for i in range(4)], ["src", "dst"]
    )
    out = {r["node"]: r["community"]
           for r in label_propagation_communities(star).collect()}
    assert len(set(out.values())) == 1

    path = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    out = {r["node"]: r["community"]
           for r in label_propagation_communities(path).collect()}
    assert len(set(out.values())) == 1


def test_modularity_pinned_values(spark):
    """Q on the two-K4 + unit-bridge fixture against hand-computed
    values: the 2-community partition scores 2·(12/26 − (13/26)²) =
    11/26 ≈ 0.423077; the everything-in-one partition scores exactly 0.
    Quantifies G7's deviation surface vs the reference's Louvain
    (visualize_graph_utils.py:30-42) whose phase-1 objective is Q."""
    from itertools import combinations

    import pytest as _pytest

    from entity_resolution__spark.operators.graph_export import modularity

    rows = [(u, v, 1.0) for u, v in combinations("abcd", 2)]
    rows += [(u, v, 1.0) for u, v in combinations("efgh", 2)]
    rows += [("d", "e", 1.0)]
    edges = spark.createDataFrame(rows, ["src", "dst", "weight"])
    split = spark.createDataFrame(
        [(n, "L") for n in "abcd"] + [(n, "R") for n in "efgh"],
        ["node", "community"],
    )
    merged = spark.createDataFrame(
        [(n, "X") for n in "abcdefgh"], ["node", "community"]
    )
    assert modularity(edges, split) == _pytest.approx(11.0 / 26.0, abs=1e-12)
    assert modularity(edges, merged) == _pytest.approx(0.0, abs=1e-12)


def test_louvain_moves_single_node_cnm_cannot(spark):
    """Round-4 VERDICT gap #3 (true Louvain): with a singleton start
    (labels=None — node-level Louvain, the reference's nx semantics
    minus the RNG) the two-K4 + weak-bridge optimum is recovered exactly
    (pinned Q = 11/26). Node-level phase-1 moves are what a merge-only
    (CNM) pass lacks: it cannot move node e out of a group it was
    wrongly welded into."""
    from itertools import combinations

    import pytest as _pytest

    from entity_resolution__spark.operators.graph_export import (
        louvain_refine,
        modularity,
    )

    rows = [(u, v, 1.0) for u, v in combinations("abcd", 2)]
    rows += [(u, v, 1.0) for u, v in combinations("efgh", 2)]
    rows += [("d", "e", 1.0)]
    edges = spark.createDataFrame(rows, ["src", "dst", "weight"])
    lv = louvain_refine(edges)  # singleton start
    got = {r["node"]: r["community"] for r in lv.collect()}
    assert len({got[n] for n in "abcd"}) == 1
    assert len({got[n] for n in "efgh"}) == 1
    assert {got[n] for n in "abcd"} != {got[n] for n in "efgh"}
    assert modularity(edges, lv) == _pytest.approx(11.0 / 26.0, abs=1e-12)


def test_louvain_multilevel_from_singletons_and_deterministic(spark):
    """Singleton start (every node its own community) on a ring of four
    K4s: level-1 local moves assemble the cliques, the contracted level
    confirms no further merge improves Q. Output must be run-stable."""
    from itertools import combinations

    from entity_resolution__spark.operators.graph_export import (
        louvain_refine,
        modularity,
    )

    cliques = ["abcd", "efgh", "ijkl", "mnop"]
    rows = []
    for cl in cliques:
        rows += [(u, v, 1.0) for u, v in combinations(cl, 2)]
    # unit bridges closing the ring
    for i, cl in enumerate(cliques):
        rows.append((cl[-1], cliques[(i + 1) % 4][0], 1.0))
    edges = spark.createDataFrame(rows, ["src", "dst", "weight"])
    singles = spark.createDataFrame(
        [(n, n) for cl in cliques for n in cl], ["node", "community"]
    )
    lv = louvain_refine(edges, singles)
    got = {r["node"]: r["community"] for r in lv.collect()}
    comms = {frozenset(n for n in got if got[n] == c) for c in set(got.values())}
    assert comms == {frozenset(cl) for cl in cliques}
    assert modularity(edges, lv) > 0.5
    # deterministic rerun
    got2 = {r["node"]: r["community"] for r in louvain_refine(edges, singles).collect()}
    assert got == got2


def test_gate_louvain_q6_matches_pure_python(spark):
    """Round-6 Q-check for the one rows-only gate query: the q6 column
    q_louvain_communities emits (distributed modularity() over the
    Louvain labels) must equal a from-scratch pure-python Newman Q over
    the same collected graph — two independent implementations, one
    value. Runs the real gate query at sf0.001."""
    import os

    sf = "/root/testdata/sf0.001"
    if not os.path.exists(f"{sf}/documents.parquet"):
        pytest.skip("driver testdata not mounted")
    import __spark_entry__ as entrymod

    out = entrymod.q_louvain_communities(spark, sf).collect()
    assert out, "gate graph is non-empty at sf0.001"
    q6 = {r["q6"] for r in out}
    assert len(q6) == 1
    q6 = q6.pop()
    labels = {r["node"]: r["community"] for r in out}

    pairs = entrymod._neardup_pairs(spark, sf, n=3, threshold=0.2).collect()
    w: dict = {}
    for r in pairs:
        u, v = str(r["id_left"]), str(r["id_right"])
        if u == v:
            continue
        key = (min(u, v), max(u, v))
        w[key] = max(w.get(key, 0.0), float(r["jaccard"]))
    m = sum(w.values())
    assert m > 0
    in_c: dict = {}
    d_c: dict = {}
    for (u, v), wt in w.items():
        cu, cv = labels[u], labels[v]
        if cu == cv:
            in_c[cu] = in_c.get(cu, 0.0) + 2.0 * wt
        d_c[cu] = d_c.get(cu, 0.0) + wt
        d_c[cv] = d_c.get(cv, 0.0) + wt
    m2 = 2.0 * m
    q_py = sum(
        in_c.get(c, 0.0) / m2 - (d_c[c] / m2) ** 2 for c in d_c
    )
    assert abs(q_py - q6) <= 1.5e-6
