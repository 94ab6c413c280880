"""End-to-end correctness gate: the Spark pipeline must reproduce the
reference-semantics clusters (brute-force all-pairs + DSU oracle) with
pairwise F1 ≥ 0.99 on labeled pairs (BASELINE.json.metric), plus the
kill-and-rerun resume property (north_rule)."""

from __future__ import annotations

import os

import pytest

from entity_resolution__spark.data.synth import make_labeled_pairs, make_transcripts
from entity_resolution__spark.plans.checkpoint import StageStore
from entity_resolution__spark.plans.pipeline import ERConfig, run_pipeline
from entity_resolution__spark.schema import TRANSCRIPTS
from tests.oracle import edges_by_prune_set, pairwise_f1, reference_clusters


@pytest.fixture(scope="module")
def pipeline_run(spark, tiny_transcripts, tiny_transcripts_sdf):
    res = run_pipeline(spark, tiny_transcripts_sdf, ERConfig())
    clusters = res.clusters.toPandas()
    return res, clusters


def test_f1_vs_reference_clusters(tiny_transcripts, pipeline_run):
    _, clusters = pipeline_run
    gold = reference_clusters(tiny_transcripts, threshold=0.60)
    labeled = make_labeled_pairs(tiny_transcripts, seed=42)
    f1 = pairwise_f1(labeled, clusters, gold)
    assert f1 >= 0.99, f"pairwise F1 {f1:.4f} < 0.99"


def test_f1_vs_latent_truth(tiny_transcripts, pipeline_run):
    """Sanity: clusters also recover the latent duplicate families."""
    from entity_resolution__spark.data.synth import true_clusters

    _, clusters = pipeline_run
    truth = true_clusters(tiny_transcripts).rename(
        columns={"entity": "cluster_id"}
    )
    truth["cluster_size"] = 1  # unused by the metric
    labeled = make_labeled_pairs(tiny_transcripts, seed=42)
    f1 = pairwise_f1(labeled, clusters, truth)
    assert f1 >= 0.95, f"latent-truth pairwise F1 {f1:.4f}"


def test_cluster_output_shape(pipeline_run):
    _, clusters = pipeline_run
    # dense ids 0..K-1, sizes consistent
    ids = sorted(clusters["cluster_id"].unique())
    assert ids == list(range(len(ids)))
    sizes = clusters.groupby("cluster_id")["conv_id"].count().sort_index()
    got = (
        clusters.drop_duplicates("cluster_id")
        .set_index("cluster_id")["cluster_size"]
        .sort_index()
    )
    assert (sizes.to_numpy() == got.to_numpy()).all()
    assert clusters["conv_id"].is_unique


def test_resume_from_snapshot(spark, tiny_transcripts_sdf, tmp_path_factory):
    """Kill-and-rerun: second run reuses committed snapshots (same
    snapshot ids for early stages) and yields identical clusters."""
    wh = str(tmp_path_factory.mktemp("warehouse"))
    cfg = ERConfig(use_minhash=False)  # smaller/faster stage set
    store = StageStore(wh)
    r1 = run_pipeline(spark, tiny_transcripts_sdf, cfg, store=store)
    c1 = r1.clusters.toPandas().sort_values("conv_id").reset_index(drop=True)
    snap_conv_1 = store.manifest("conversations")["snapshot_id"]

    # simulate crash after scores: clusters manifest lost
    os.remove(os.path.join(wh, "clusters", "manifest.json"))

    store2 = StageStore(wh)
    r2 = run_pipeline(spark, tiny_transcripts_sdf, cfg, store=store2)
    c2 = r2.clusters.toPandas().sort_values("conv_id").reset_index(drop=True)
    # early stages resumed, not recomputed
    assert store2.manifest("conversations")["snapshot_id"] == snap_conv_1
    # final output identical
    assert c1.equals(c2)


def test_warm_resume_skips_edge_recompute(
    spark, tiny_transcripts_sdf, tmp_path_factory, monkeypatch
):
    """ADVICE round 2: a fully-warm resume must serve the edge stage
    from its committed snapshot WITHOUT re-running the geo flag (the
    edge computation used to execute eagerly before the stage gate)."""
    import entity_resolution__spark.plans.pipeline as plmod

    wh = str(tmp_path_factory.mktemp("warehouse_warm"))
    cfg = ERConfig(use_minhash=False)
    r1 = run_pipeline(spark, tiny_transcripts_sdf, cfg, store=StageStore(wh))
    c1 = r1.clusters.toPandas().sort_values("conv_id").reset_index(drop=True)

    calls: list[int] = []
    orig = plmod.flag_geo

    def spy(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(plmod, "flag_geo", spy)
    r2 = run_pipeline(spark, tiny_transcripts_sdf, cfg, store=StageStore(wh))
    c2 = r2.clusters.toPandas().sort_values("conv_id").reset_index(drop=True)
    assert calls == [], "warm resume re-ran the geo flag"
    assert c1.equals(c2)


def test_snapshot_gc_keeps_newest_previous(spark, tmp_path_factory):
    """GC keeps the current snapshot plus the most RECENT other one by
    mtime (round-3 review: a lexicographic sort over random uuids kept
    an arbitrary snapshot as 'previous')."""
    import os

    wh = str(tmp_path_factory.mktemp("warehouse_gc"))
    store = StageStore(wh)
    df = spark.range(3)
    ids = []
    for i in range(3):
        store.commit(df, "s", f"fp{i}")
        ids.append(store.manifest("s")["snapshot_id"])
        # force strictly increasing mtimes regardless of fs resolution
        os.utime(os.path.join(wh, "s", ids[-1]), (i + 1, i + 1))
    store.commit(df, "s", "fp3")
    ids.append(store.manifest("s")["snapshot_id"])
    left = {d for d in os.listdir(os.path.join(wh, "s")) if d.startswith("snap-")}
    assert ids[3] in left            # current
    assert ids[2] in left            # the true most-recent previous
    assert ids[0] not in left and ids[1] not in left


def test_stage_fingerprint_tracks_lineage(spark, tmp_path_factory):
    """stage() must recompute when a lineage dependency recommitted
    (round-3 review: the fingerprint hashed params only, so direct
    callers got stale resume over new upstream data)."""
    wh = str(tmp_path_factory.mktemp("warehouse_lineage"))
    store = StageStore(wh)
    store.commit(spark.range(5), "up", "fp-up-1")
    calls = []

    def compute():
        calls.append(1)
        return spark.range(2)

    store.stage(spark, "down", {"p": 1}, compute, lineage=["up"])
    store.stage(spark, "down", {"p": 1}, compute, lineage=["up"])
    assert len(calls) == 1  # warm resume, same upstream
    store.commit(spark.range(6), "up", "fp-up-2")  # upstream recommitted
    store.stage(spark, "down", {"p": 1}, compute, lineage=["up"])
    assert len(calls) == 2  # invalidated by the new upstream snapshot


def test_release_transients_storeless(spark, tiny_transcripts_sdf):
    """A store-less run caches nothing in the session, so there is nothing
    for release_transients() to free: the stage boundaries are local
    checkpoints and the edges a lazy projection. A long-lived session
    (the oracle gate's entry never releases) accumulates nothing."""
    spark.catalog.clearCache()
    res = run_pipeline(spark, tiny_transcripts_sdf, ERConfig(use_minhash=False))
    res.clusters.count()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    res.release_transients()
    assert cache.isEmpty()


# Two conversations that differ only in the country they name: they score
# far above the keep threshold and the geo flag must drop their pair.
_GEO_CONFLICT = [
    (f"geo_{country[:2].lower()}", i, role, text.format(country), None, None)
    for country in ("Japan", "Canada")
    for i, (role, text) in enumerate(
        [
            ("user", "Hi, I run the quantum photonics lab at the {} campus of Northwind Institute"),
            ("user", "Please summarize the spectrometer calibration notes from Tuesday"),
            ("assistant", "Done: calibration drift stayed under two nanometres"),
        ]
    )
]


@pytest.mark.parametrize("stored", [False, True], ids=["storeless", "stored"])
def test_edges_match_prune_set_reference(
    spark, tiny_transcripts_sdf, tmp_path_factory, stored
):
    """The one-pass geo flag splits the thresholded pairs exactly as the
    prune-set / anti-join form in tests/oracle.py does, in both modes, on
    the tiny fixture plus one geo-conflicting pair."""
    sdf = tiny_transcripts_sdf.unionByName(
        spark.createDataFrame(_GEO_CONFLICT, schema=TRANSCRIPTS)
    )
    cfg = ERConfig(use_minhash=False)
    store = StageStore(str(tmp_path_factory.mktemp("warehouse_edges"))) if stored else None
    res = run_pipeline(spark, sdf, cfg, store=store)
    kept, dropped = edges_by_prune_set(
        res.scored, res.conversations, min_prob=cfg.keep_threshold
    )

    def rows(df):
        return sorted(tuple(r) for r in df.select(*res.scored.columns).collect())

    assert res.edges.columns == res.scored.columns
    assert rows(res.edges) == rows(kept)
    assert rows(res.dropped) == rows(dropped)
    assert rows(res.edges)
    assert [r[:2] for r in rows(res.dropped)] == [("geo_ca", "geo_ja")]
    if stored:  # one edges snapshot holds both sides of the flag
        assert "geo_pruned" in store.read(spark, "edges").columns
        assert store.manifest("edges_dropped") is None


def test_new_input_invalidates_snapshots(spark, tmp_path_factory):
    """Rerunning with a DIFFERENT input against the same warehouse must
    NOT resume from the previous input's snapshots (fingerprints carry
    input identity + lineage snapshot ids)."""
    wh = str(tmp_path_factory.mktemp("warehouse_inputs"))
    cfg = ERConfig(use_minhash=False)
    a = spark.createDataFrame(make_transcripts(seed=1, n_entities=12), schema=TRANSCRIPTS)
    b = spark.createDataFrame(make_transcripts(seed=2, n_entities=15), schema=TRANSCRIPTS)

    store = StageStore(wh)
    run_pipeline(spark, a, cfg, store=store)
    snap_conv_a = store.manifest("conversations")["snapshot_id"]
    snap_clusters_a = store.manifest("clusters")["snapshot_id"]

    store2 = StageStore(wh)
    r_b = run_pipeline(spark, b, cfg, store=store2)
    assert store2.manifest("conversations")["snapshot_id"] != snap_conv_a
    assert store2.manifest("clusters")["snapshot_id"] != snap_clusters_a
    # output reflects input B, not a stale replay of A
    assert r_b.clusters.count() == b.select("conv_id").distinct().count()


def test_single_conversation_gives_one_cluster(spark):
    one = spark.createDataFrame(
        [("c0", 0, "user", "hello from Japan", None, None),
         ("c0", 1, "assistant", "hi there", "search", None)],
        schema=TRANSCRIPTS,
    )
    res = run_pipeline(spark, one, ERConfig())
    rows = res.clusters.collect()
    res.release_transients()
    assert [(r["conv_id"], r["cluster_size"]) for r in rows] == [("c0", 1)]


def test_conversations_snapshot_without_new_columns_is_recomputed(
    spark, tiny_transcripts_sdf, tmp_path_factory
):
    """A conversations snapshot committed before canonicalize emitted
    `sig` and `countries` has the same ERConfig params; its fingerprint
    (the pre-column-list form) must not resume it, or blocking would
    read a missing `sig` column."""
    wh = str(tmp_path_factory.mktemp("warehouse_old_conv"))
    cfg = ERConfig()
    store = StageStore(wh)
    old_params = {
        **cfg.params(),
        "stage": "conversations",
        "input": {
            "semantic_hash": tiny_transcripts_sdf.semanticHash(),
            "files": sorted(tiny_transcripts_sdf.inputFiles()),
        },
        "lineage_snapshots": {},
    }
    old_cols = ["conv_id", "n_turns", "turn_texts", "roles", "tools",
                "full_text", "norm_text", "tokens", "token_set"]
    from entity_resolution__spark.operators.canonicalize import canonicalize

    store.stage(
        spark, "conversations", old_params,
        lambda: canonicalize(tiny_transcripts_sdf).select(*old_cols),
    )
    old_snap = store.manifest("conversations")["snapshot_id"]

    res = run_pipeline(spark, tiny_transcripts_sdf, cfg, store=StageStore(wh))
    assert store.manifest("conversations")["snapshot_id"] != old_snap
    assert {"sig", "countries"} <= set(res.conversations.columns)
    assert res.clusters.count() == tiny_transcripts_sdf.select("conv_id").distinct().count()
