"""Score-ranking metrics (reference M2/M4) + B4/B7/G5 inventory helpers:
undirected max-collapse, blocking quality, cluster-edge export."""

from __future__ import annotations

import numpy as np
import pytest

from entity_resolution__spark.operators.evaluate import (
    f1_optimal_threshold,
    roc_auc,
)


def test_roc_auc_known():
    y = np.array([0, 0, 1, 1])
    assert roc_auc(y, np.array([0.1, 0.2, 0.8, 0.9])) == 1.0
    assert roc_auc(y, np.array([0.9, 0.8, 0.2, 0.1])) == 0.0
    assert roc_auc(y, np.array([0.5, 0.5, 0.5, 0.5])) == 0.5


def test_f1_threshold():
    y = np.array([0, 0, 1, 1, 1])
    s = np.array([0.1, 0.4, 0.6, 0.7, 0.9])
    t, f1 = f1_optimal_threshold(y, s)
    assert 0.4 < t <= 0.6
    assert f1 == 1.0


def test_pr_auc_exact_and_bounds():
    from entity_resolution__spark.operators.evaluate import pr_auc

    # hand-computed AP: hits at ranks 1 and 3 → 0.5·1 + 0.5·(2/3)
    y = np.array([1.0, 0.0, 1.0, 0.0])
    s = np.array([0.9, 0.8, 0.7, 0.1])
    assert abs(pr_auc(y, s) - (0.5 + 1.0 / 3.0)) < 1e-12
    # perfect ranking → 1.0; no positives → 0.0
    assert pr_auc(np.array([1.0, 1.0, 0.0]), np.array([0.9, 0.8, 0.1])) == 1.0
    assert pr_auc(np.zeros(3), np.array([0.9, 0.8, 0.1])) == 0.0


def test_collapse_undirected_max(spark):
    from entity_resolution__spark.operators.pairs import collapse_undirected_max

    df = spark.createDataFrame(
        [("a", "b", 0.9), ("b", "a", 0.5), ("a", "c", 0.3)],
        ["id_left", "id_right", "prob_match"],
    )
    out = {(r["id_left"], r["id_right"]): r["prob_match"]
           for r in collapse_undirected_max(df).collect()}
    assert out == {("a", "b"): 0.9, ("a", "c"): 0.3}


def test_blocking_quality_metrics(spark, tiny_transcripts, tiny_transcripts_sdf):
    from entity_resolution__spark.data.synth import make_labeled_pairs
    from entity_resolution__spark.operators.blocking import (
        blocking_quality,
        rare_token_keys,
    )
    from entity_resolution__spark.operators.canonicalize import canonicalize

    conv = canonicalize(tiny_transcripts_sdf)
    n = conv.count()
    blocks = rare_token_keys(conv)
    labeled = spark.createDataFrame(make_labeled_pairs(tiny_transcripts, seed=42))
    q = blocking_quality(blocks, labeled, n)
    assert q["pair_completeness"] >= 0.99  # rare-token keys catch dup families
    assert q["reduction_ratio"] > 0.5


def test_cluster_edges_chain_star(spark):
    from entity_resolution__spark.operators.cluster import cluster_edges

    clusters = spark.createDataFrame(
        [("a", 0, 3), ("b", 0, 3), ("c", 0, 3), ("x", 1, 1)],
        ["conv_id", "cluster_id", "cluster_size"],
    )
    chain = {(r["src"], r["dst"]) for r in cluster_edges(clusters, "chain").collect()}
    assert chain == {("a", "b"), ("b", "c")}
    star = {(r["src"], r["dst"]) for r in cluster_edges(clusters, "star").collect()}
    assert star == {("a", "b"), ("a", "c")}
    with pytest.raises(ValueError):
        cluster_edges(clusters, "ring")
