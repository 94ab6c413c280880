"""End-to-end ER pipeline: transcripts → clusters.

Stage DAG (each optionally checkpointed via StageStore, north_rule):

  transcripts ─ canonicalize (one Arrow UDF: norm_text, tokens, MinHash
                sig, countries) ─ conversations
  conversations ─ blocking keys (tokens ∪ bands of sig) ─ blocks
  blocks ─ candidate_pairs (salted within-block join) ─ pairs
  pairs + conversations ─ featurize ─ score ─ scored
  scored ─ threshold + geo_pruned flag (countries column) ─ edges;
           kept and dropped are the two sides of the flag
  edges ─ CC (partition forest, then driver union-find or star loop)
        ─ clusters (dense ids + sizes)

Conversation text crosses into Python once per pass, in canonicalize;
blocking and the geo constraint read the columns it emitted. With a
store, the edges (flag included) are one committed snapshot; without
one they stay lazy and run inside the clusters stage. CC picks its
finish by size on both paths; with a store, star-loop rounds (if any)
commit to one `cluster_iter` stage that a rerun resumes from.

Parameters have one home each. `ERConfig` holds what a run chooses: the
keep and cluster thresholds (and `stage_timing`, which nothing reads).
The rest are constants of the operators that read them:
`blocking.MINHASH_PERM`, `MINHASH_BANDS`, `RARE_TOKEN_MAX_DF`,
`RARE_TOKENS_PER_CONV`; `pairs.MAX_BLOCK`; `score.MIN_TOKEN_JACCARD`;
`cluster.CC_MAX_ITER`. `ERConfig.params()` reads all of them into every
stage fingerprint, so editing a constant recomputes a stored run.

Mirrors the reference entry points E1–E3 (SURVEY.md §3) as one lazy
Spark DAG with explicit stage boundaries.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entity_resolution__spark.operators import blocking, cluster, score
from entity_resolution__spark.operators import pairs as pair_ops
from entity_resolution__spark.operators.canonicalize import canonicalize
from entity_resolution__spark.operators.cluster import (
    assign_clusters,
    connected_components,
)
from entity_resolution__spark.operators.constraints import flag_geo
from entity_resolution__spark.operators.pairs import attach_pair_payload, candidate_pairs
from entity_resolution__spark.operators.score import featurize_pairs, score_pairs
from entity_resolution__spark.plans.checkpoint import StageStore


@dataclass
class ERConfig:
    """The thresholds a run chooses (the reference's 0.45 keep and 0.60
    seed); main.py sets both. Every other ER parameter is a constant of
    the operator that reads it."""

    keep_threshold: float = 0.45
    cluster_threshold: float = 0.60
    # Not semantic and no longer read: every stage boundary is timed
    # into ERResult.stage_wall. Kept only because perfbench/workloads.py
    # still constructs ERConfig(stage_timing=...).
    stage_timing: bool = False

    def params(self) -> dict:
        """What every stage fingerprint folds in: both thresholds and the
        operator constants, read at call time, so a changed constant
        invalidates a stored run. Renaming a key, or changing a value's
        type, invalidates every committed warehouse too."""
        return {
            "minhash_perm": blocking.MINHASH_PERM,
            "minhash_bands": blocking.MINHASH_BANDS,
            "rare_token_max_df": blocking.RARE_TOKEN_MAX_DF,
            "rare_tokens_per_conv": blocking.RARE_TOKENS_PER_CONV,
            "max_block": pair_ops.MAX_BLOCK,
            "min_token_jaccard": score.MIN_TOKEN_JACCARD,
            "keep_threshold": self.keep_threshold,
            "cluster_threshold": self.cluster_threshold,
            "cc_max_iter": cluster.CC_MAX_ITER,
        }


@dataclass
class ERResult:
    conversations: DataFrame
    blocks: DataFrame
    pairs: DataFrame
    scored: DataFrame
    edges: DataFrame
    dropped: DataFrame
    clusters: DataFrame
    cc_iterations: int = 0
    stage_wall: dict = field(default_factory=dict)  # stage → wall seconds

    def release_transients(self) -> None:
        """A no-op: a run caches nothing in the session, so there is
        nothing to release. Kept because perfbench/workloads.py calls it
        after every store-less pass."""


def build_blocks(conv: DataFrame, n_docs: int | None = None) -> DataFrame:
    return blocking.rare_token_keys(conv, n_docs=n_docs).unionByName(
        blocking.minhash_band_keys(conv)
    )


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: ERConfig | None = None,
    store: StageStore | None = None,
) -> ERResult:
    cfg = cfg or ERConfig()
    p = cfg.params()
    stage_wall: dict[str, float] = {}

    # Input identity folded into every stage fingerprint (else a rerun
    # with a different --input but the same warehouse would silently
    # resume from the previous input's snapshots). semanticHash covers
    # the logical plan (source paths, schema, filters); inputFiles pins
    # the concrete file set for file-based sources.
    input_fp: dict | None = None
    if store is not None:
        try:
            files = sorted(transcripts.inputFiles())
        except Exception:
            files = []
        try:
            sem = transcripts.semanticHash()
        except Exception:
            sem = None
        input_fp = {"semantic_hash": sem, "files": files}

    def staged(
        name: str,
        compute,
        lineage: list[str] | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        t0 = time.monotonic()
        if store is None:
            # no snapshot store: still materialize the stage boundary once
            # — conv/scored are referenced by several downstream branches
            # and must not recompute their UDF work per branch. EAGER
            # localCheckpoint, not persist()+count(): the SQL cache pays a
            # columnar re-encode of the nested turn/token arrays on write
            # and a decode per read (measured 0.97-2.2 s materialize +
            # 0.37 s/3 reads for conversations at the 100k-turn bench
            # shape vs 0.55-0.69 s + 0.26 s/3 reads for the RDD-block
            # checkpoint), and count() lets the optimizer prune columns so
            # it did not even warm every column of the cache (guide §1.4).
            out = compute().localCheckpoint(eager=True)
        else:
            # fingerprint chains over the input identity; store.stage()
            # folds in the lineage stages' committed snapshot ids, so an
            # upstream recompute (new snapshot id) invalidates everything
            # downstream
            params = {
                **p,
                **({"columns": columns} if columns is not None else {}),
                "stage": name,
                "input": input_fp,
            }
            out = store.stage(spark, name, params, compute, lineage)
        stage_wall[name] = round(time.monotonic() - t0, 3)
        return out

    # canonicalize emits norm_text, tokens, sig and countries via one
    # fused Arrow UDF. Its column list is part of the stage fingerprint:
    # the params alone do not change when the snapshot gains columns, and
    # a warehouse written before `sig`/`countries` existed must recompute.
    conv_plan = canonicalize(transcripts)
    conv = staged("conversations", lambda: conv_plan, columns=conv_plan.columns)

    # one corpus count, threaded to the blocking DF caps
    n_docs = conv.count()

    blocks = staged(
        "blocks", lambda: build_blocks(conv, n_docs=n_docs), ["conversations"]
    )

    pairs = staged("candidate_pairs", lambda: candidate_pairs(blocks), ["blocks"])

    def compute_scored() -> DataFrame:
        # slim payload: the feature kernel derives token vectors from
        # norm_text and takes role/tool sequences as pre-joined strings,
        # so neither `tokens` nor the raw arrays ship through the pair
        # shuffle (3 exchanges carry this payload; bytes were the 8→32
        # scaling limiter at 537k turns). token_set stays for the
        # Catalyst jaccard pre-gate.
        payload_src = conv.select(
            "conv_id",
            "norm_text",
            "token_set",
            F.array_join("roles", "\x1f").alias("roles_seq"),
            F.array_join("tools", "\x1f").alias("tools_seq"),
        )
        payload = attach_pair_payload(
            pairs,
            payload_src,
            ["norm_text", "token_set", "roles_seq", "tools_seq"],
        )
        # the feature UDF is CPU-bound with small bytes/row: AQE's
        # size-based coalescing would shrink this stage to a handful of
        # tasks — pin it to the core count so kernels use every core
        payload = payload.repartition(spark.sparkContext.defaultParallelism)
        feats = featurize_pairs(payload)
        return score_pairs(feats, threshold=cfg.cluster_threshold).select(
            "id_left",
            "id_right",
            "prob_match",
            "pred_match",
            "token_jaccard",
        )

    scored = staged("scores", compute_scored, ["candidate_pairs", "conversations"])

    # the thresholded pairs and their geo flag, computed once: committed
    # as one snapshot with a store, lazy without (an eager local
    # checkpoint here cost more than recomputing inside clusters)
    def compute_edges() -> DataFrame:
        return flag_geo(scored, conv, cfg.keep_threshold)

    edges = compute_edges() if store is None else staged("edges", compute_edges, ["scores"])
    kept = edges.filter(~F.col("geo_pruned")).drop("geo_pruned")
    dropped = edges.filter(F.col("geo_pruned")).drop("geo_pruned")

    cluster_edges = kept.filter(
        F.col("prob_match") >= F.lit(cfg.cluster_threshold)
    ).select(F.col("id_left").alias("src"), F.col("id_right").alias("dst"))

    cc_iter_store = {}

    def compute_clusters() -> DataFrame:
        src, on_iter = cluster_edges, None
        if store is not None:
            # Star rounds commit to ONE stage keyed on the edges snapshot.
            # A round keeps every non-isolated node and the components of
            # its input, so CC of the last committed round equals CC of
            # the edges: a killed run resumes the loop from it. The
            # forest pre-pass's eager checkpoint materializes the resumed
            # frame before the next round's commit lets GC drop its files.
            edges_snap = store.manifest("edges")["snapshot_id"]
            if store.is_current("cluster_iter", edges_snap):
                src = store.read(spark, "cluster_iter").select(
                    F.col("u").alias("src"), F.col("v").alias("dst")
                )

            def on_iter(it, e, fp):
                store.commit(
                    e, "cluster_iter", edges_snap, ["edges"], {"round": it}
                )

        cc = connected_components(src, on_iteration=on_iter)
        cc_iter_store["iterations"] = cc.iterations
        all_nodes = conv.select(F.col("conv_id").alias("node"))
        return assign_clusters(cc.assignments, all_nodes)

    clusters = staged("clusters", compute_clusters, ["edges", "conversations"])

    return ERResult(
        conversations=conv,
        blocks=blocks,
        pairs=pairs,
        scored=scored,
        edges=kept,
        dropped=dropped,
        clusters=clusters,
        cc_iterations=cc_iter_store.get("iterations", 0),
        stage_wall=stage_wall,
    )
