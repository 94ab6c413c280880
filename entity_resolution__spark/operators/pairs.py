"""Candidate-pair generation from blocking keys, skew-aware.

Within-block self-join with canonical ordering (id_left < id_right)
replaces the reference's per-row top-k neighbor emit
(/root/reference/scripts/run_blocking.py:42-57) + canonicalize/dedup
(/root/reference/scripts/make_candidate_pairs.py:38-46).

Skew (north_rule "salted block keys"): a hot key of size n makes the
naive self-join emit n² rows through one shuffle partition. `candidate_
pairs` therefore (1) drops blocks larger than MAX_BLOCK (they are
stopword-grade keys carrying no signal — same spirit as the reference's
max_df=0.9 cutoff at scripts/run_blocking.py:19), and (2) for remaining
blocks over SALT_THRESHOLD splits members into S salted sub-blocks and
enumerates sub-block PAIRS (i ≤ j) so every original pair appears in
exactly one (key, salt_i, salt_j) task — the triangle join. AQE's
skew-join split is the backstop for residual imbalance. Both are module
constants: the cap drops pairs, so it is part of the stage fingerprint
(`ERConfig.params`); salting changes the plan, not the pairs.

Round 4: the cap+salt machinery lives in operators/saltjoin.py (shared
with the MinHash-band and embedding-bucket joins); candidate_pairs is a
thin wrapper adding the ER pair-dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# blocks larger than this are dropped
MAX_BLOCK = 2000
# blocks larger than this (and at most MAX_BLOCK) take the salted join
SALT_THRESHOLD = 200


def candidate_pairs(blocks: DataFrame) -> DataFrame:
    """blocks(conv_id, block_key) → (id_left, id_right) canonical, deduped.

    A pair sharing several keys is emitted once (dropDuplicates on the
    pair). Round 4: delegates to saltjoin.capped_salted_self_join — the
    scheme this module proved in rounds 1-3, generalized so the LSH
    dedup/embedding paths share it. The generalized triangle expands
    BOTH join sides over the (si ≤ sj) salt pairs, keying the join on
    (block_key, si, sj): per-task volume is (n/S)² (the round-1-3 form
    keyed on (block_key, sj) only, bounding a hot block at n²/S per
    partition)."""
    from entity_resolution__spark.operators.saltjoin import capped_salted_self_join

    keyed = blocks.select("block_key", "conv_id")
    return (
        capped_salted_self_join(
            keyed,
            ["block_key"],
            id_col="conv_id",
            max_bucket=MAX_BLOCK,
            salt_threshold=SALT_THRESHOLD,
        )
        .dropDuplicates(["id_left", "id_right"])
        .select("id_left", "id_right", "block_key")
    )


def attach_pair_payload(pairs: DataFrame, conv: DataFrame, cols: list[str]) -> DataFrame:
    """Join conversation payload columns onto both sides of each pair.

    The reference does this with two driver-side dict lookups (its
    scripts/run_blocking.py:71-76); here it is two shuffle hash joins
    keyed on conv_id — never a driver map.
    """
    # payload rows carry token/role arrays — broadcasting them makes the
    # driver build a huge relation single-threaded (measured ~60s serial
    # on a 76k-conversation table). Shuffle-hash join keeps both sides
    # distributed and skips the sort.
    payload = conv.select("conv_id", *cols).hint("shuffle_hash")
    left = payload.select(
        F.col("conv_id").alias("id_left"),
        *[F.col(c).alias(f"{c}_l") for c in cols],
    )
    right = payload.select(
        F.col("conv_id").alias("id_right"),
        *[F.col(c).alias(f"{c}_r") for c in cols],
    )
    return pairs.join(left, "id_left").join(right, "id_right")
