"""Salted (triangle) pair generation must emit exactly the same pair set
as the naive within-block join — on a fixture with a hot block."""

from __future__ import annotations

from itertools import combinations

from entity_resolution__spark.operators import pairs as pairs_mod
from entity_resolution__spark.operators.pairs import candidate_pairs


def _expected(blocks: list[tuple[str, str]], max_block: int) -> set[tuple[str, str]]:
    by_key: dict[str, list[str]] = {}
    for cid, key in blocks:
        by_key.setdefault(key, []).append(cid)
    out = set()
    for members in by_key.values():
        if len(members) > max_block:
            continue
        for a, b in combinations(sorted(set(members)), 2):
            out.add((a, b))
    return out


def test_salted_pairs_match_naive(spark):
    blocks = []
    # hot block: 300 members (> SALT_THRESHOLD=200 → triangle path)
    blocks += [(f"h{i:04d}", "hot") for i in range(300)]
    # normal blocks
    blocks += [(f"a{i}", "k1") for i in range(5)]
    blocks += [(f"b{i}", "k2") for i in range(3)]
    # over-cap block: dropped entirely
    blocks += [(f"z{i:04d}", "giant") for i in range(2100)]
    # multi-key pair: a0/a1 also share k3 → still one pair
    blocks += [("a0", "k3"), ("a1", "k3")]

    df = spark.createDataFrame(blocks, ["conv_id", "block_key"])
    assert pairs_mod.SALT_THRESHOLD < 300 <= pairs_mod.MAX_BLOCK < 2100
    got = {(r["id_left"], r["id_right"]) for r in candidate_pairs(df).collect()}
    assert got == _expected(blocks, max_block=pairs_mod.MAX_BLOCK)


def test_no_self_or_reversed_pairs(spark, monkeypatch):
    monkeypatch.setattr(pairs_mod, "SALT_THRESHOLD", 4)  # the 10-block is salted
    blocks = [(f"n{i}", "k") for i in range(10)]
    df = spark.createDataFrame(blocks, ["conv_id", "block_key"])
    rows = candidate_pairs(df).collect()
    assert all(r["id_left"] < r["id_right"] for r in rows)
    assert len(rows) == 45  # C(10,2)
