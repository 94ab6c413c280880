"""End-to-end ER pipeline: transcripts → clusters.

Stage DAG (each optionally checkpointed via StageStore, north_rule):

  transcripts ─ canonicalize (one Arrow UDF: norm_text, tokens, MinHash
                sig, countries) ─ conversations
  conversations ─ blocking keys (tokens ∪ bands of sig) ─ blocks
  blocks ─ candidate_pairs (salted within-block join) ─ pairs
  pairs + conversations ─ featurize ─ score ─ scored
  scored ─ threshold + geo_pruned flag (countries column) ─ edges;
           kept and dropped are the two sides of the flag
  edges ─ large-star/small-star CC ─ clusters (dense ids + sizes)

Conversation text crosses into Python once per pass, in canonicalize;
blocking and the geo constraint read the columns it emitted. With a
store, the edges (flag included) are one committed snapshot; without
one they stay lazy and run inside the clusters stage.

Mirrors the reference entry points E1–E3 (SURVEY.md §3) as one lazy
Spark DAG with explicit stage boundaries.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entity_resolution__spark.operators.blocking import (
    minhash_band_keys,
    rare_token_keys,
)
from entity_resolution__spark.operators.canonicalize import canonicalize
from entity_resolution__spark.operators.cluster import (
    assign_clusters,
    cohort_transitive_clusters,
    connected_components,
)
from entity_resolution__spark.operators.constraints import flag_geo
from entity_resolution__spark.operators.pairs import attach_pair_payload, candidate_pairs
from entity_resolution__spark.operators.score import featurize_pairs, score_pairs
from entity_resolution__spark.plans.checkpoint import StageStore


@dataclass
class ERConfig:
    # blocking
    use_minhash: bool = True
    minhash_perm: int = 32
    minhash_bands: int = 4  # 8 rows/band: strict S-curve — rare-token
    # keys carry family recall (pair completeness ≥0.99 on fixtures);
    # LSH is the near-dup backup, so a steep curve keeps pair volume low
    rare_token_max_df: int = 200
    rare_tokens_per_conv: int = 4
    max_block: int = 2000
    salt_threshold: int = 200
    n_salts: int = 8
    # scoring / constraints (reference thresholds: 0.45 keep, 0.60 seed,
    # C4 token-overlap prune 0.20 → our pre-filter 0.15 is conservative)
    min_token_jaccard: float = 0.15
    keep_threshold: float = 0.45
    cluster_threshold: float = 0.60
    # clustering
    cc_max_iter: int = 50
    # Not semantic and no longer read: every stage boundary is timed
    # into ERResult.stage_wall. Kept only because perfbench/workloads.py
    # still constructs ERConfig(stage_timing=...).
    stage_timing: bool = False

    _NON_SEMANTIC = ("stage_timing",)

    def params(self) -> dict:
        return {
            k: v for k, v in self.__dict__.items() if k not in self._NON_SEMANTIC
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


def build_blocks(conv: DataFrame, cfg: ERConfig, n_docs: int | None = None) -> DataFrame:
    keys = rare_token_keys(
        conv,
        max_df=cfg.rare_token_max_df,
        per_conv=cfg.rare_tokens_per_conv,
        n_docs=n_docs,
    )
    if cfg.use_minhash:
        keys = keys.unionByName(
            minhash_band_keys(
                conv, num_perm=cfg.minhash_perm, bands=cfg.minhash_bands
            )
        )
    return keys


def cohort_seed_edges(
    scored: DataFrame, countries: DataFrame, min_prob: float = 0.60
) -> DataFrame:
    """G2 seed selection (reference apply_transitivity.py:107-119): keep
    edges with prob ≥ min_prob AND ≥1 shared extracted country, exploded
    one row per shared country (the cohort). Cohorts are lowercased
    canonical names, as in the reference."""
    cl = countries.select(
        F.col("conv_id").alias("id_left"), F.col("countries").alias("c_l")
    )
    cr = countries.select(
        F.col("conv_id").alias("id_right"), F.col("countries").alias("c_r")
    )
    strong = scored.filter(F.col("prob_match") >= F.lit(min_prob))
    return (
        strong.join(cl, "id_left")
        .join(cr, "id_right")
        .select(
            F.col("id_left").cast("string").alias("u"),
            F.col("id_right").cast("string").alias("v"),
            F.explode(F.array_intersect("c_l", "c_r")).alias("cohort"),
        )
        .withColumn("cohort", F.lower("cohort"))
    )


def run_cohort_transitivity(
    scored: DataFrame,
    countries: DataFrame,
    min_prob: float = 0.60,
    max_iter: int = 50,
) -> DataFrame:
    """Reference E3 canonical output (er_clusters_transitive.csv analog):
    cohort-seeded transitive clusters over scored pairs. Returns
    (cohort, node_id, cluster_id, cluster_size)."""
    return cohort_transitive_clusters(
        cohort_seed_edges(scored, countries, min_prob), max_iter=max_iter
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
            # fingerprint chains over the input identity and the lineage
            # stages' committed snapshot ids: an upstream recompute (new
            # snapshot id) invalidates everything downstream
            params = {
                **p,
                **({"columns": columns} if columns is not None else {}),
                "stage": name,
                "input": input_fp,
                "lineage_snapshots": {
                    dep: (store.manifest(dep) or {}).get("snapshot_id")
                    for dep in (lineage or [])
                },
            }
            out = store.stage(spark, name, params, compute, lineage)
        stage_wall[name] = round(time.monotonic() - t0, 3)
        return out

    # canonicalize emits norm_text, tokens, sig and countries via one
    # fused Arrow UDF. Its column list is part of the stage fingerprint:
    # the params alone do not change when the snapshot gains columns, and
    # a warehouse written before `sig`/`countries` existed must recompute.
    conv_plan = canonicalize(
        transcripts, num_perm=cfg.minhash_perm if cfg.use_minhash else None
    )
    conv = staged("conversations", lambda: conv_plan, columns=conv_plan.columns)

    # one corpus count, threaded to the blocking DF caps
    n_docs = conv.count()

    blocks = staged(
        "blocks", lambda: build_blocks(conv, cfg, n_docs=n_docs), ["conversations"]
    )

    pairs = staged(
        "candidate_pairs",
        lambda: candidate_pairs(
            blocks,
            max_block=cfg.max_block,
            salt_threshold=cfg.salt_threshold,
            n_salts=cfg.n_salts,
        ),
        ["blocks"],
    )

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
        feats = featurize_pairs(payload, min_token_jaccard=cfg.min_token_jaccard)
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
        on_iter = None
        if store is not None:
            def on_iter(it, e, fp):  # per-iteration snapshot (north_rule)
                store.commit(
                    e, f"cluster_iter_{it:03d}", f"{fp[0]}:{fp[1]}", ["edges"]
                )

        cc = connected_components(
            cluster_edges, max_iter=cfg.cc_max_iter, on_iteration=on_iter
        )
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
