"""Output checks. Each compares the program's output with an oracle the
timed code does not compute:

* ER clusters: the planted families of the fixture
  (``synth.true_clusters``, read off the conversation ids), and the
  cluster count, pairwise precision/recall/F1 and assignment md5 pinned
  in ``expected.json`` for the 6,000-entity fixture;
* queries: row count and ``tools/check_oracle.value_hash`` of each
  result, pinned in ``expected.json`` from DuckDB running the query's
  ``oracle_sql()`` over the same tables (``pin_queries.py`` regenerates
  them).
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)


def value_hash_fn():
    """The order-insensitive result hash the repo's oracle gate uses."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.value_hash


def assignment_md5(conv_ids, cluster_keys) -> str:
    """md5 of the sorted `conv_id,<min member of its cluster>` lines: a
    form of a clustering that does not depend on how clusters are numbered."""
    import pandas as pd

    df = pd.DataFrame({"conv_id": list(conv_ids), "key": list(cluster_keys)})
    root = df.groupby("key")["conv_id"].transform("min")
    lines = sorted(df["conv_id"] + "," + root)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def pairwise_prf(clusters, truth) -> tuple[float, float, float]:
    """Pairwise precision, recall and F1 of (conv_id, cluster_id) against
    the planted (conv_id, entity) families."""
    pairs = lambda sizes: int((sizes * (sizes - 1) // 2).sum())  # noqa: E731
    both = clusters.merge(truth, on="conv_id")
    tp = pairs(both.groupby(["cluster_id", "entity"]).size())
    pred = pairs(clusters.groupby("cluster_id").size())
    true = pairs(truth.groupby("entity").size())
    p = tp / pred if pred else 1.0
    r = tp / true if true else 1.0
    return p, r, (2 * p * r / (p + r) if p + r else 0.0)


def planted_expectation(truth) -> dict:
    """What a perfect clustering of a fixture scores: one cluster per
    planted family. Used for fixtures too small to have pinned values."""
    return {
        "conversations": len(truth),
        "clusters": int(truth["entity"].nunique()),
        "precision": 1.0,
        "recall": 1.0,
        "pairwise_f1": 1.0,
        "md5": assignment_md5(truth["conv_id"], truth["entity"]),
    }


def check_clusters(clusters, truth, expect: dict) -> tuple[list[str], str]:
    """(problems found in one ER output, empty when it is correct; its
    assignment md5)."""
    problems = []
    if len(clusters) != expect["conversations"]:
        problems.append(f"rows {len(clusters)} != {expect['conversations']}")
    if clusters["conv_id"].duplicated().any():
        problems.append("a conversation is assigned to more than one cluster")
    if set(clusters["conv_id"]) != set(truth["conv_id"]):
        problems.append("clustered conversations differ from the input's")
    k = int(clusters["cluster_id"].nunique())
    if k != expect["clusters"]:
        problems.append(f"clusters {k} != {expect['clusters']}")
    got = dict(zip(("precision", "recall", "pairwise_f1"), pairwise_prf(clusters, truth)))
    for key, val in got.items():
        if round(val, 6) != expect[key]:
            problems.append(f"{key} {val:.6f} != {expect[key]}")
    md5 = assignment_md5(clusters["conv_id"], clusters["cluster_id"])
    if md5 != expect["md5"]:
        problems.append(f"assignment md5 {md5} != {expect['md5']}")
    return problems, md5


def check_query(name: str, pdf, pins: dict, value_hash) -> list[str]:
    pin = pins[name]
    problems = []
    if len(pdf) != pin["rows"]:
        problems.append(f"{name}: rows {len(pdf)} != {pin['rows']}")
    h = value_hash(pdf)
    if h != pin["hash"]:
        problems.append(f"{name}: value hash {h} != {pin['hash']}")
    return problems
