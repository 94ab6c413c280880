"""k-core peel (operators/graph_algos.k_core): hand graphs pin the
classic shapes; a seeded random graph is checked against an exact
python-replica peel (the k-core is unique, so replica equality is a
full semantic check)."""

from __future__ import annotations

import random

import pytest

from entity_resolution__spark.operators.graph_algos import k_core


def _replica(edges, k):
    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    while True:
        deg = {}
        for a, b in es:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        bad = {n for n, d in deg.items() if d < k}
        if not bad:
            return deg
        es = {e for e in es if e[0] not in bad and e[1] not in bad}
        if not es:
            return {}


def _df(spark, edges):
    return spark.createDataFrame(edges, "src long, dst long")


def test_k_core_clique_with_pendants(spark):
    # K4 on 1-4 plus pendant chain 4-5-6: 3-core = exactly the K4
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
    got = {r["node"]: r["degree"] for r in k_core(_df(spark, edges), 3).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # 2-core drops only the pendant tail
    got2 = {r["node"] for r in k_core(_df(spark, edges), 2).collect()}
    assert got2 == {1, 2, 3, 4}


def test_k_core_ring_and_empty(spark):
    ring = [(i, (i + 1) % 6) for i in range(6)]
    got = {r["node"] for r in k_core(_df(spark, ring), 2).collect()}
    assert got == set(range(6))  # a ring IS its own 2-core
    assert k_core(_df(spark, ring), 3).count() == 0  # no 3-core in a ring


def test_k_core_matches_replica_random(spark):
    rng = random.Random(23)
    edges = list({(rng.randrange(40), rng.randrange(40)) for _ in range(160)})
    df = _df(spark, edges)
    for k in (2, 3, 4):
        exp = _replica(edges, k)
        got = {r["node"]: r["degree"] for r in k_core(df, k).collect()}
        assert got == exp, k


def test_k_core_bad_k(spark):
    with pytest.raises(ValueError):
        k_core(_df(spark, [(1, 2)]), 0)


def test_k_core_on_both_sides_of_driver_budget(
    spark, monkeypatch, no_auto_broadcast
):
    """The survivor set broadcasts into the peel's semi-joins iff the
    first round's node count is within `driver_rows`; one node over it
    keeps shuffle joins, with the same core."""
    from entity_resolution__spark.operators import graph_algos

    frame = type(spark.range(1))  # the classic DataFrame that defines it
    plans = []
    real_ckpt = frame.localCheckpoint

    def spy(self, *a, **k):
        out = real_ckpt(self, *a, **k)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(frame, "localCheckpoint", spy)
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
    got, bcast = {}, {}
    for budget in (6, 5):  # 6 nodes in the first round
        monkeypatch.setattr(graph_algos, "driver_rows", lambda df, b=budget: b)
        plans.clear()
        core = graph_algos.k_core(_df(spark, edges), 3)
        got[budget] = {r["node"]: r["degree"] for r in core.collect()}
        bcast[budget] = any("BroadcastHashJoin" in p for p in plans)
    assert got[6] == got[5] == {1: 3, 2: 3, 3: 3, 4: 3}
    assert bcast == {6: True, 5: False}
