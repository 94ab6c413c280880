"""Skew-safe within-bucket self-join: the shared candidate-pair engine.

Every LSH family in this repo (ER blocking keys, MinHash bands over
shingles, embedding sign buckets) ends in the same shape: a
self-join on a bucket key emitting all within-bucket pairs. A hot bucket
of size n makes the naive join emit n² rows through ONE shuffle
partition — the round-3 VERDICT's last remaining quadratic-blowup path
at 100× scale (a Zipf-head shingle whose md5 is the band minimum for
millions of docs, or a degenerate all-zeros embedding region).

This module generalizes the scheme operators/pairs.py proved for ER
blocks (reference analog: the max_df=0.9 stopword-key cutoff at
/root/reference/scripts/run_blocking.py:19):

  1. buckets larger than `max_bucket` are DROPPED — at that size a
     bucket key carries no discriminative signal (it is the LSH analog
     of a stopword block), and downstream rerank cost n²/2 per bucket
     would dominate the job. The cap is mirrored in the DuckDB oracles
     so the semantics, not just the plan, are pinned.
  2. buckets over `salt_threshold` (default 512; ER blocks pass
     `pairs.SALT_THRESHOLD`, 200) are TRIANGLE-SALTED: members get
     salt = pmod(xxhash64(id), S), BOTH join sides are expanded against
     the (si ≤ sj) salt-pair table, and the join keys on
     (bucket, si, sj) — so every unordered pair lands in exactly one of
     the S(S+1)/2 salt tasks and per-task volume is (n/S)², not n².
     (operators/pairs.py's original triangle expanded only the left
     side, leaving the join keyed on (bucket, sj) — per-partition
     volume n²/S; expanding both sides buys the full (n/S)² bound for
     one extra ~S/2× fanout of the skinny id rows.)
  3. small buckets take the plain self-join.

AQE's skew-join split remains the backstop for residual imbalance.
Bucket sizes come from a count window over the bucket key — one shuffle,
no broadcast of a potentially corpus-sized bucket dimension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def capped_salted_self_join(
    keyed: DataFrame,
    key_cols: list[str],
    id_col: str = "id",
    max_bucket: int = 4096,
    salt_threshold: int = 512,
    n_salts: int = 8,
) -> DataFrame:
    """keyed(key_cols..., id_col) → (id_left, id_right, *key_cols).

    All within-bucket unordered pairs with id_left < id_right, each pair
    emitted exactly once PER BUCKET it shares (callers joining several
    buckets/bands per row dedup on the pair afterwards). Buckets larger
    than `max_bucket` are dropped (documented recall trade — see module
    docstring). Buckets in (salt_threshold, max_bucket] go through the
    triangle-salted join.

    id values must be orderable (<, least/greatest) — strings or ints.
    """
    spark = keyed.sparkSession
    w = Window.partitionBy(*key_cols)
    # MATERIALIZE the sized bucket table once: four plan branches
    # consume it (small l/r, salted lhs/rhs) and would each re-evaluate
    # the full upstream (e.g. the dedup path's 14 minhash columns)
    # otherwise. On a cluster this boundary is a staged table
    # (plans.checkpoint.StageStore); localCheckpoint is the local analog.
    sized = (
        keyed.withColumn("_bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("_bsz") <= max_bucket)
        .localCheckpoint(eager=True)
    )
    small = sized.filter(F.col("_bsz") <= salt_threshold).drop("_bsz")
    big = sized.filter(F.col("_bsz") > salt_threshold).drop("_bsz")

    l, r = small.alias("l"), small.alias("r")
    pairs_small = (
        l.join(r, key_cols)
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("id_left"),
            F.col(f"r.{id_col}").alias("id_right"),
            *key_cols,
        )
    )

    # Round 6 (VERDICT #6, candidate_pairs fixed-barrier audit): when NO
    # bucket exceeds salt_threshold the triangle-salted union branch is
    # dead weight — two joins + a union that still schedule a full wave
    # of empty shuffle tasks. The isEmpty probe reads the materialized
    # checkpoint (short-circuits on the first non-empty partition, no
    # recompute) and drops the branch from the plan entirely: measured
    # at the ER bench shape (71.6k block rows, local[8], steady state)
    # the stage goes 1.1-1.5 s/2.3-3.8 cpu-s -> 0.78-0.96 s/1.4-1.7
    # cpu-s (one-off A/B; the no-checkpoint variant
    # measured WORSE than either - 4.6-7.3 cpu-s - so the barrier
    # itself stays). With hot buckets present the probe costs one cheap
    # scan and the salted path runs as before.
    if big.isEmpty():
        return pairs_small

    # triangle-salted join for hot buckets, both sides expanded so the
    # join keys on (bucket, si, sj) and each salt task is (n/S)²
    salted = big.withColumn("_salt", F.pmod(F.xxhash64(id_col), F.lit(n_salts)))
    salt_pairs = (
        spark.range(n_salts)
        .select(F.col("id").alias("_si"))
        .crossJoin(spark.range(n_salts).select(F.col("id").alias("_sj")))
        .filter(F.col("_si") <= F.col("_sj"))
    )
    lhs = salted.join(F.broadcast(salt_pairs), salted["_salt"] == F.col("_si"))
    rhs = salted.join(F.broadcast(salt_pairs), salted["_salt"] == F.col("_sj")).select(
        *[F.col(k).alias(f"_r_{k}") for k in key_cols],
        F.col(id_col).alias("_r_id"),
        F.col("_si").alias("_r_si"),
        F.col("_sj").alias("_r_sj"),
    )
    cond = (F.col("_si") == F.col("_r_si")) & (F.col("_sj") == F.col("_r_sj"))
    for k in key_cols:
        cond = cond & (F.col(k) == F.col(f"_r_{k}"))
    # an (a, b) pair with salts (p, q): the lhs row carries (a, si=p),
    # the rhs row (b, sj=q); they meet iff p ≤ q, i.e. exactly one
    # orientation of each cross-salt pair survives — same-salt tasks
    # keep their own triangle via id <
    pairs_big = (
        lhs.join(rhs, cond)
        .filter(
            F.when(
                F.col("_si") == F.col("_sj"), F.col(id_col) < F.col("_r_id")
            ).otherwise(F.col(id_col) != F.col("_r_id"))
        )
        .select(
            F.least(id_col, "_r_id").alias("id_left"),
            F.greatest(id_col, "_r_id").alias("id_right"),
            *key_cols,
        )
    )
    return pairs_small.unionByName(pairs_big)

