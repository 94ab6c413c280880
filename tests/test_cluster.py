"""Connected components: large-star/small-star loop vs DSU on hand and
random graphs; O(log n)-ish round bound on a long path (FIXTURES.md §4
cc_graphs)."""

from __future__ import annotations

import math
import random

from entity_resolution__spark.operators.cluster import (
    assign_clusters,
    connected_components,
)
from tests.oracle import DSU


def _cc_spark(spark, edges, nodes=None, local_threshold=0):
    # local_threshold=0 forces the distributed star loop — these tests
    # exist to validate it; the adaptive local-DSU path has its own
    # parity test below
    e = spark.createDataFrame(edges, ["src", "dst"])
    cc = connected_components(e, local_threshold=local_threshold)
    if nodes is None:
        nodes = sorted({x for p in edges for x in p})
    n = spark.createDataFrame([(x,) for x in nodes], ["node"])
    out = assign_clusters(cc.assignments, n)
    rows = out.collect()
    comp: dict = {}
    for r in rows:
        comp.setdefault(r["cluster_id"], set()).add(r["conv_id"])
    return {frozenset(v) for v in comp.values()}, cc.iterations, rows


def _cc_dsu(edges, nodes):
    dsu = DSU()
    for x in nodes:
        dsu.find(x)
    for a, b in edges:
        dsu.union(a, b)
    comp: dict = {}
    for x in nodes:
        comp.setdefault(dsu.find(x), set()).add(x)
    return {frozenset(v) for v in comp.values()}


def test_chain_clique_bridge_singleton(spark):
    edges = (
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(5)]  # chain n000..n005
        + [(f"k{i}", f"k{j}") for i in range(4) for j in range(i + 1, 4)]  # clique
        + [("n005", "k0")]  # bridge chain↔clique
        + [("x1", "x2")]
    )
    nodes = sorted({x for p in edges for x in p} | {"lonely"})
    got, _, rows = _cc_spark(spark, edges, nodes)
    assert got == _cc_dsu(edges, nodes)
    # sizes + dense ids
    by_node = {r["conv_id"]: r for r in rows}
    assert by_node["lonely"]["cluster_size"] == 1
    ids = sorted({r["cluster_id"] for r in rows})
    assert ids == list(range(len(ids)))  # dense 0..K-1
    # dense ids follow sorted min-member order (reference renumber)
    mins = sorted(min(c) for c in got)
    want_id = {m: i for i, m in enumerate(mins)}
    for c in got:
        m = min(c)
        for node in c:
            assert by_node[node]["cluster_id"] == want_id[m]


def test_random_graphs_match_dsu(spark):
    rnd = random.Random(7)
    nodes = [f"v{i:04d}" for i in range(200)]
    edges = [
        (rnd.choice(nodes), rnd.choice(nodes))
        for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    got, _, _ = _cc_spark(spark, edges, nodes)
    assert got == _cc_dsu(edges, nodes)


def test_long_path_converges_fast(spark):
    n = 2048
    edges = [(f"p{i:05d}", f"p{i+1:05d}") for i in range(n - 1)]
    got, iters, _ = _cc_spark(spark, edges)
    assert len(got) == 1 and len(next(iter(got))) == n
    # alternating star: ~log2(n) rounds, assert generous 3*log2+5 bound
    assert iters <= 3 * int(math.log2(n)) + 5, iters


def test_cohort_transitive_clusters_vs_dsu(spark):
    """G2 vs a per-cohort DSU oracle (reference apply_transitivity.py:
    107-168 semantics): union-find per cohort, global dense renumber over
    sorted (cohort, min member); multi-cohort nodes appear once PER
    cohort."""
    from entity_resolution__spark.operators.cluster import (
        cohort_transitive_clusters,
    )

    # (u, v, cohort): japan has {a,b,c} via a-b, b-c and {x,y};
    # canada has {a,d} — node a appears in BOTH cohorts
    seed_rows = [
        ("a", "b", "japan"),
        ("b", "c", "japan"),
        ("x", "y", "japan"),
        ("a", "d", "canada"),
    ]
    seed = spark.createDataFrame(seed_rows, ["u", "v", "cohort"])
    out = cohort_transitive_clusters(seed).collect()

    # python oracle: DSU per cohort, renumber by sorted (cohort, min member)
    comps = {}  # (cohort, frozenset(members))
    import collections

    adj = collections.defaultdict(lambda: collections.defaultdict(set))
    for u, v, c in seed_rows:
        adj[c][u].add(v)
        adj[c][v].add(u)
    comp_list = []
    for c, g in adj.items():
        seen = set()
        for n in g:
            if n in seen:
                continue
            stack, comp = [n], set()
            while stack:
                cur = stack.pop()
                if cur in comp:
                    continue
                comp.add(cur)
                stack.extend(g[cur] - comp)
            seen |= comp
            comp_list.append((c, min(comp), frozenset(comp)))
    comp_list.sort(key=lambda t: (t[0], t[1]))
    want = {}
    for cid, (c, _m, members) in enumerate(comp_list):
        for m in members:
            want[(c, m)] = (cid, len(members))

    got = {(r["cohort"], r["node_id"]): (r["cluster_id"], r["cluster_size"]) for r in out}
    assert got == want
    # node 'a' is in two cohorts → two rows
    assert ("japan", "a") in got and ("canada", "a") in got


def test_local_dsu_path_matches_star_loop(spark):
    """The size-adaptive driver-side DSU path must produce EXACTLY the
    same (node, root=min member) assignments as the distributed
    large-star/small-star loop."""
    random.seed(7)
    nodes = [f"v{i:03d}" for i in range(120)]
    edges = [
        (random.choice(nodes), random.choice(nodes)) for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    e = spark.createDataFrame(edges, ["src", "dst"])
    local = connected_components(e)  # small → local path
    assert local.iterations == 0
    dist = connected_components(e, local_threshold=0)  # forced loop
    assert dist.iterations >= 1
    lrows = {(r["node"], r["root"]) for r in local.assignments.collect()}
    drows = {(r["node"], r["root"]) for r in dist.assignments.collect()}
    assert lrows == drows


def test_self_loop_parity_local_vs_distributed(spark):
    """Self-loop edges are dropped up front on BOTH paths (ADVICE round
    2: the local DSU used to emit a (node, node) row for a self-loop-only
    node while the star loop dropped it)."""
    e = spark.createDataFrame(
        [("a", "b"), ("c", "c"), ("d", "d")], ["src", "dst"]
    )
    local = connected_components(e)
    dist = connected_components(e, local_threshold=0)
    lrows = {(r["node"], r["root"]) for r in local.assignments.collect()}
    drows = {(r["node"], r["root"]) for r in dist.assignments.collect()}
    assert lrows == drows == {("a", "a"), ("b", "a")}


def test_local_dsu_null_edges_dropped_not_corrupted(spark):
    """Round-5 ADVICE: integer edge endpoints with nulls widen to
    float64 in pandas (NaN dict keys, >2^53 precision loss). The DSU
    path now drops null endpoints BEFORE the Arrow transfer — matching
    the distributed loop, whose u>v/u!=v comparisons drop them — and the
    surviving long ids stay exact integers."""
    from entity_resolution__spark.operators.cluster import (
        _local_dsu_components,
    )

    big = 2**60 + 1  # would lose precision if routed through float64
    e = spark.createDataFrame(
        [(1, 2), (None, 3), (4, None), (big, big + 2)],
        "src long, dst long",
    )
    got = {(r["node"], r["root"]) for r in _local_dsu_components(e).collect()}
    # null edges contribute nothing; 3 appears in no valid edge
    assert got == {(1, 1), (2, 1), (big, big), (big + 2, big)}
    # distributed path parity on the same input
    dist = connected_components(e, local_threshold=0)
    drows = {(r["node"], r["root"]) for r in dist.assignments.collect()}
    assert drows == got


def test_distributed_cc_at_size(spark):
    """Round-4 VERDICT #4: exercise the star loop AT SIZE — >100k chain
    edges (bench runs the same generator at 1.05M), forced past the DSU
    cutover. Asserts (a) the distributed path actually ran, (b) round
    count stays ~log2(longest chain), (c) assignments equal BOTH the
    analytic expectation (chain root = first node) and the driver DSU
    oracle."""
    from entity_resolution__spark.data.synth import make_chain_edges
    from entity_resolution__spark.operators.cluster import (
        _local_dsu_components,
    )

    edges, n_edges, expected = make_chain_edges(
        spark, n_chains=1200, chain_len=100, n_long=4, long_len=800
    )
    assert n_edges == 1200 * 100 + 4 * 800
    res = connected_components(edges, local_threshold=0)
    assert res.iterations > 0  # the star loop ran
    # diameter halves per round: ~log2(800) + fixpoint detection slack
    assert res.iterations <= math.ceil(math.log2(800)) + 4
    got = res.assignments
    assert got.count() == 1200 * 101 + 4 * 801
    assert got.join(expected, ["node", "root"]).count() == got.count()
    dsu = _local_dsu_components(edges)
    assert got.join(dsu, ["node", "root"]).count() == got.count()
    assert dsu.count() == got.count()


def test_two_level_forest_prepass_equivalence(spark):
    """Round-7 two-level CC: the partition-local spanning-star pre-pass
    (_local_forest_edges) that every call runs must leave the star
    loop's (node, min-root) result IDENTICAL to the driver union-find
    over the raw edges — for string and for integer node ids — and the
    pre-pass output must be a star set no larger than the node count."""
    from entity_resolution__spark.operators.cluster import (
        _local_dsu_components,
        _local_forest_edges,
        connected_components,
    )

    def rows(df):
        return {(r["node"], r["root"]) for r in df.collect()}

    rng = random.Random(13)
    nodes = [f"w{i:03d}" for i in range(150)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(200)]
    edges = [(a, b) for a, b in edges if a != b]
    e = spark.createDataFrame(edges, ["src", "dst"]).repartition(7)
    star = connected_components(e, local_threshold=0)
    assert star.iterations >= 1
    assert rows(star.assignments) == rows(_local_dsu_components(e))

    # integer ids through the Arrow boundary: one chain, analytic root 0
    ei = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40)], "src long, dst long"
    ).repartition(5)
    want = {(i, 0) for i in range(41)}
    star_i = connected_components(ei, local_threshold=0)
    assert star_i.iterations >= 1
    assert rows(star_i.assignments) == want
    assert rows(_local_dsu_components(ei)) == want

    # the pre-pass output is a connectivity-equivalent star set: no
    # self rows, never more edges than nodes-1 per component
    f = _local_forest_edges(ei.filter("src != dst"))
    frows = f.collect()
    assert all(r["src"] != r["dst"] for r in frows)
    assert len(frows) <= 40


def test_extra_edge_columns_same_on_both_finishes(spark):
    """An edge frame that carries more than (src, dst) — here a weight,
    as a weighted graph export carries — clusters identically on the driver finish
    and on the star loop: the pre-pass must declare only the columns it
    yields, or the star loop raises RESULT_COLUMN_NAMES_MISMATCH."""
    rng = random.Random(5)
    nodes = [f"x{i:03d}" for i in range(80)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes), rng.random()) for _ in range(100)
    ]
    e = spark.createDataFrame(
        edges, "src string, dst string, weight double"
    ).repartition(3)
    local = connected_components(e)
    star = connected_components(e, local_threshold=0)
    assert local.iterations == 0 and star.iterations >= 1
    lrows = {(r["node"], r["root"]) for r in local.assignments.collect()}
    srows = {(r["node"], r["root"]) for r in star.assignments.collect()}
    dsu = DSU()
    linked = [(a, b) for a, b, _w in edges if a != b]
    for a, b in linked:
        dsu.union(a, b)
    comp: dict = {}
    for x in {x for p in linked for x in p}:
        comp.setdefault(dsu.find(x), set()).add(x)
    want = {(x, min(c)) for c in comp.values() for x in c}
    assert lrows == srows == want


def test_driver_finish_fetches_at_most_node_count(spark, monkeypatch):
    """The driver finish collects the partition-local forest, not the
    edges: on a dense graph (complete graph on 40 nodes, 780 edges) in
    one partition the fetched frame has at most |V| - 1 rows."""
    from entity_resolution__spark.operators import cluster

    fetched = []
    real = cluster._local_dsu_components

    def spy(edges, _edges_pdf=None):
        fetched.append(len(_edges_pdf))
        return real(edges, _edges_pdf=_edges_pdf)

    monkeypatch.setattr(cluster, "_local_dsu_components", spy)
    n = 40
    edges = [(i, j) for i in range(n) for j in range(i + 1, n)]
    e = spark.createDataFrame(edges, "src long, dst long").coalesce(1)
    res = cluster.connected_components(e)
    assert res.iterations == 0
    assert fetched == [n - 1]
    assert {(r["node"], r["root"]) for r in res.assignments.collect()} == {
        (i, 0) for i in range(n)
    }


def test_cc_finish_on_both_sides_of_driver_budget(spark, monkeypatch):
    """The driver finish runs iff the forest has at most `driver_rows`
    edges; one edge over the budget takes the star loop, with the same
    assignments."""
    from entity_resolution__spark.operators import cluster

    rng = random.Random(11)
    nodes = [f"b{i:03d}" for i in range(100)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(120)]
    e = spark.createDataFrame(edges, ["src", "dst"]).coalesce(1)
    n_forest = cluster._local_forest_edges(e.filter("src != dst")).count()
    got = {}
    for budget in (n_forest, n_forest - 1):
        monkeypatch.setattr(cluster, "driver_rows", lambda df, b=budget: b)
        res = cluster.connected_components(e)
        roots = {(r["node"], r["root"]) for r in res.assignments.collect()}
        got[budget] = (res.iterations, roots)
    assert got[n_forest][0] == 0
    assert got[n_forest - 1][0] > 0
    assert got[n_forest][1] == got[n_forest - 1][1]


def test_dense_ids_on_both_sides_of_driver_budget(spark, monkeypatch):
    """K keys within `driver_rows` are numbered on the driver; one key
    over it takes the distributed sort + zipWithIndex, with the same
    dense sorted-key ids."""
    from pyspark import RDD

    from entity_resolution__spark.operators import cluster

    rng = random.Random(3)
    roots = [f"r{i:02d}" for i in range(30)]
    rng.shuffle(roots)
    keys = spark.createDataFrame(
        [(r, len(r)) for r in roots], "root string, cluster_size int"
    ).repartition(3)
    zipped = []
    real_zip = RDD.zipWithIndex

    def spy(self):
        zipped.append(1)
        return real_zip(self)

    monkeypatch.setattr(RDD, "zipWithIndex", spy)
    got, n_zipped = {}, {}
    for budget in (30, 29):
        monkeypatch.setattr(cluster, "driver_rows", lambda df, b=budget: b)
        ids = cluster._dense_ids(keys, ["root"], "cluster_id")
        got[budget] = sorted(tuple(r) for r in ids.collect())
        n_zipped[budget] = len(zipped)
    want = [(r, 3, i) for i, r in enumerate(sorted(roots))]
    assert got[30] == got[29] == want
    assert n_zipped == {30: 0, 29: 1}


def test_cohort_clusters_same_on_both_cc_finishes(spark, monkeypatch):
    """cohort_transitive_clusters sizes its CC by the session rule: the
    default budget takes the driver finish, a zero heap share the star
    loop (and the distributed dense ids); the output is the same."""
    from entity_resolution__spark import session
    from entity_resolution__spark.operators import cluster

    seed = spark.createDataFrame(
        [
            ("a", "b", "japan"),
            ("b", "c", "japan"),
            ("x", "y", "japan"),
            ("a", "d", "canada"),
            ("d", "e", "canada"),
        ],
        ["u", "v", "cohort"],
    )
    iters = []
    real_cc = cluster.connected_components

    def spy(*a, **k):
        res = real_cc(*a, **k)
        iters.append(res.iterations)
        return res

    monkeypatch.setattr(cluster, "connected_components", spy)
    def run():
        return sorted(tuple(r) for r in cluster.cohort_transitive_clusters(seed).collect())

    driver = run()
    monkeypatch.setattr(session, "DRIVER_HEAP_FRACTION", 0.0)
    star = run()
    assert iters[0] == 0 and iters[1] > 0
    assert driver == star
    assert len(driver) == 8
