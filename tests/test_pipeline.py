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
    cfg = ERConfig()
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


_STAGES = ["conversations", "blocks", "candidate_pairs", "scores", "edges", "clusters"]


class _Killed(Exception):
    """Stands in for a killed run."""


def _sorted(clusters):
    return clusters.sort_values("conv_id").reset_index(drop=True)


def _force_star_loop(mp):
    import functools

    import entity_resolution__spark.plans.pipeline as plmod

    mp.setattr(
        plmod,
        "connected_components",
        functools.partial(plmod.connected_components, local_threshold=0),
    )


def _spy_stages(mp, method: str) -> list[str]:
    """Record the stage name of every StageStore.read / .commit call
    (the stage is the second positional argument of both)."""
    seen: list[str] = []
    orig = getattr(StageStore, method)

    def spy(self, *a, **k):
        seen.append(a[1])
        return orig(self, *a, **k)

    mp.setattr(StageStore, method, spy)
    return seen


def test_stored_run_takes_the_size_rule(
    spark, tiny_transcripts_sdf, tmp_path_factory, pipeline_run
):
    """A stored run picks its CC finish by size, as a store-less run does:
    the tiny fixture takes the driver finish, commits no star round, and
    its warehouse holds exactly the six stages."""
    wh = str(tmp_path_factory.mktemp("warehouse_size_rule"))
    res = run_pipeline(spark, tiny_transcripts_sdf, ERConfig(), store=StageStore(wh))
    assert sorted(os.listdir(wh)) == sorted(_STAGES)
    assert res.cc_iterations == 0
    assert _sorted(res.clusters.toPandas()).equals(_sorted(pipeline_run[1]))


def test_params_keep_the_stored_fingerprints():
    """ERConfig.params() reads the operator constants into the same nine
    keys and values, types included, that every committed warehouse's
    stage fingerprints were made from, so those warehouses resume."""
    import json

    want = {
        "minhash_perm": 32,
        "minhash_bands": 4,
        "rare_token_max_df": 200,
        "rare_tokens_per_conv": 4,
        "max_block": 2000,
        "min_token_jaccard": 0.15,
        "keep_threshold": 0.45,
        "cluster_threshold": 0.60,
        "cc_max_iter": 50,
    }
    for cfg in (ERConfig(), ERConfig(stage_timing=True)):
        assert json.dumps(cfg.params(), sort_keys=True) == json.dumps(want, sort_keys=True)


def test_changed_operator_constant_recomputes_the_stages(
    spark, tiny_transcripts_sdf, tmp_path_factory, monkeypatch
):
    """An operator constant enters the stage fingerprints: with
    blocking.MINHASH_BANDS changed, a stored rerun resumes nothing. Blocks and every stage after it recompute; so do the
    conversations, whose fingerprint folds in every parameter too."""
    from entity_resolution__spark.operators import blocking

    wh = str(tmp_path_factory.mktemp("warehouse_constant"))
    run_pipeline(spark, tiny_transcripts_sdf, ERConfig(), store=StageStore(wh))
    before = {s: StageStore(wh).manifest(s)["fingerprint"] for s in _STAGES}

    monkeypatch.setattr(blocking, "MINHASH_BANDS", 8)
    reads = _spy_stages(monkeypatch, "read")
    commits = _spy_stages(monkeypatch, "commit")
    res = run_pipeline(spark, tiny_transcripts_sdf, ERConfig(), store=StageStore(wh))
    after = {s: StageStore(wh).manifest(s)["fingerprint"] for s in _STAGES}
    assert reads == []
    assert commits == _STAGES
    assert all(after[s] != before[s] for s in _STAGES)
    # the new constant reached the operator: 8 band keys per conversation
    n_conv = res.conversations.count()
    assert blocking.minhash_band_keys(res.conversations).count() == 8 * n_conv


@pytest.fixture(scope="module")
def star_loop_run(spark, tiny_transcripts_sdf, tmp_path_factory, pipeline_run):
    """An uninterrupted stored run with the star loop forced: its round
    count and clusters (which equal the store-less clusters)."""
    wh = str(tmp_path_factory.mktemp("warehouse_star"))
    with pytest.MonkeyPatch.context() as mp:
        _force_star_loop(mp)
        res = run_pipeline(spark, tiny_transcripts_sdf, ERConfig(), store=StageStore(wh))
        clusters = _sorted(res.clusters.toPandas())
    assert clusters.equals(_sorted(pipeline_run[1]))
    rounds = res.cc_iterations
    assert rounds >= 2  # converged = two equal fingerprints in a row
    # every round overwrote the one cluster_iter stage; GC keeps two
    assert StageStore(wh).manifest("cluster_iter")["metrics"]["round"] == rounds
    snaps = [d for d in os.listdir(os.path.join(wh, "cluster_iter")) if d.startswith("snap-")]
    assert len(snaps) == 2
    return rounds, clusters


@pytest.mark.parametrize("kill_at", ["first", "last"])
def test_killed_star_loop_resumes_from_cluster_iter(
    spark, tiny_transcripts_sdf, tmp_path_factory, monkeypatch, star_loop_run, kill_at
):
    """Kill a stored run right after star round k commits (the first
    round, and the last); the rerun must resume the loop from the
    committed `cluster_iter` frame and give the uninterrupted clusters."""
    rounds, want = star_loop_run
    k = 1 if kill_at == "first" else rounds
    _force_star_loop(monkeypatch)

    class KilledAfterRound(StageStore):
        def commit(self, df, stage, fp, lineage=None, extra_metrics=None):
            out = super().commit(df, stage, fp, lineage, extra_metrics)
            if stage == "cluster_iter" and extra_metrics["round"] == k:
                raise _Killed(stage)
            return out

    wh = str(tmp_path_factory.mktemp(f"warehouse_kill_{kill_at}"))
    with pytest.raises(_Killed):
        run_pipeline(spark, tiny_transcripts_sdf, ERConfig(), store=KilledAfterRound(wh))
    store = StageStore(wh)
    assert store.manifest("clusters") is None
    assert store.manifest("cluster_iter")["metrics"]["round"] == k
    resumed_from = store.manifest("cluster_iter")["snapshot_id"]

    reads = _spy_stages(monkeypatch, "read")
    res = run_pipeline(spark, tiny_transcripts_sdf, ERConfig(), store=store)
    assert "cluster_iter" in reads
    assert _sorted(res.clusters.toPandas()).equals(want)
    if kill_at == "last":
        # the rerun committed >= 2 rounds, so GC deleted the snapshot it
        # resumed from: the forest pre-pass had already materialized it
        assert res.cc_iterations >= 2
        assert resumed_from not in os.listdir(os.path.join(wh, "cluster_iter"))


@pytest.mark.parametrize("fault", _STAGES)
def test_fault_in_a_stage_resumes_the_committed_ones(
    spark, tiny_transcripts_sdf, tmp_path_factory, monkeypatch, pipeline_run, fault
):
    """Raise from one stage's compute, then rerun: the stages committed
    before the fault are read, not recomputed, the rest are computed and
    committed, and the clusters equal an uninterrupted run's."""

    class FaultyStore(StageStore):
        def stage(self, spark, name, params, compute, lineage=None):
            if name == fault:
                def compute():
                    raise _Killed(name)
            return super().stage(spark, name, params, compute, lineage)

    wh = str(tmp_path_factory.mktemp(f"warehouse_fault_{fault}"))
    with pytest.raises(_Killed):
        run_pipeline(spark, tiny_transcripts_sdf, ERConfig(), store=FaultyStore(wh))
    done = _STAGES[: _STAGES.index(fault)]
    assert sorted(os.listdir(wh)) == sorted(done)

    reads = _spy_stages(monkeypatch, "read")
    commits = _spy_stages(monkeypatch, "commit")
    res = run_pipeline(spark, tiny_transcripts_sdf, ERConfig(), store=StageStore(wh))
    clusters = _sorted(res.clusters.toPandas())
    assert reads == done
    assert commits == _STAGES[len(done):]
    assert clusters.equals(_sorted(pipeline_run[1]))


def test_warm_resume_skips_edge_recompute(
    spark, tiny_transcripts_sdf, tmp_path_factory, monkeypatch
):
    """ADVICE round 2: a fully-warm resume must serve the edge stage
    from its committed snapshot WITHOUT re-running the geo flag (the
    edge computation used to execute eagerly before the stage gate)."""
    import entity_resolution__spark.plans.pipeline as plmod

    wh = str(tmp_path_factory.mktemp("warehouse_warm"))
    cfg = ERConfig()
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
    res = run_pipeline(spark, tiny_transcripts_sdf, ERConfig())
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
    cfg = ERConfig()
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
    cfg = ERConfig()
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
