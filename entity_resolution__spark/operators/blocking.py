"""Blocking: candidate-generation keys for conversations.

The reference blocks by brute-force TF-IDF cosine kNN over all N entities
(/root/reference/scripts/run_blocking.py:28-37) — O(N²), impossible at
10^12 turns. We replace it (per north_star) with key-based blocking:

  * token keys   — rarest normalized tokens per conversation
  * q-gram MinHash-LSH bands — near-duplicate-robust keys computed in a
    vectorized pandas UDF (numpy, Arrow-batched)

Two conversations become a candidate pair iff they share ≥1 key. Hot
keys (skew) are handled by `saltjoin.capped_salted_self_join`, which
`pairs.candidate_pairs` calls: a block larger than `max_block` is
dropped, and a block larger than `salt_threshold` is split into S salted
sub-blocks whose pairs are generated per sub-block PAIR (triangle
enumeration), so every pair is still emitted exactly once but no single
task holds the whole hot block.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# ---------------------------------------------------------------------------
# token blocking keys
# ---------------------------------------------------------------------------


def rare_token_keys(
    conv: DataFrame,
    max_df: int = 200,
    per_conv: int = 4,
    max_df_frac: float | None = 0.005,
    n_docs: int | None = None,
) -> DataFrame:
    """Keys = up to `per_conv` rarest tokens of each conversation.

    Document frequency is a groupBy aggregate (map-side combined); tokens
    with DF > the cap are dropped (stopword-like, would create hot
    blocks). The cap is min(max_df, max_df_frac·N): an absolute cap alone
    is wrong under corpus growth — a token in 0.5% of 10¹⁰ conversations
    is a stopword, not a key. Rarest-token blocking is the scalable
    analog of the reference's TF-IDF weighting: rare tokens carry the
    discriminative signal.
    """
    if max_df_frac is not None:
        # n_docs threads one corpus count through every operator that
        # needs it (round-1 flag: 3 redundant count jobs per pipeline run)
        n = n_docs if n_docs is not None else conv.count()
        max_df = max(10, min(max_df, int(max_df_frac * n)))
    tok = conv.select("conv_id", F.explode("token_set").alias("token"))
    df_counts = token_doc_freq(conv)
    ranked = (
        tok.join(df_counts.filter(F.col("df") <= max_df), "token")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("conv_id").orderBy(
                    F.col("df").asc(), F.col("token").asc()
                )
            ),
        )
        .filter(F.col("rn") <= per_conv)
    )
    return ranked.select("conv_id", F.col("token").alias("block_key"))


def token_doc_freq(conv: DataFrame) -> DataFrame:
    """(token, df) over the corpus — the one DF-count subplan shared by
    rare_token_keys / stopwords_by_idf (one place for its semantics).
    Map-side combined; shuffle carries one row per distinct (token,
    partial count)."""
    return (
        conv.select(F.explode("token_set").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def stopwords_by_idf(
    conv: DataFrame,
    idf_pct: float = 0.20,
    df_cut: float = 0.20,
    n_docs: int | None = None,
) -> DataFrame:
    """TF-IDF-based auto-stopwords (reference B8,
    visualize_k_value_for_blocking.py:61-75): tokens whose idf is in the
    lowest `idf_pct` quantile OR whose document frequency STRICTLY
    exceeds `df_cut` of docs (strict >, matching the reference's
    df_frac > HIGH_DF_PERCENT — round-3 review caught a >= here).
    Distributed: ONE DF aggregate (persisted across the quantile action
    and the filter; round 3 — it used to run twice) + approxQuantile.
    Empty corpus → empty stopword set."""
    if n_docs is None:
        n_docs = conv.count()
    dfreq = token_doc_freq(conv).withColumn(
        "idf", F.log((F.lit(1.0 + n_docs)) / (F.col("df") + 1.0)) + 1.0
    ).persist()
    try:
        q = dfreq.approxQuantile("idf", [idf_pct], 0.001)
        if not q:
            return dfreq.sparkSession.createDataFrame([], "token string")
        out = dfreq.filter(
            (F.col("idf") <= q[0]) | (F.col("df") > df_cut * n_docs)
        ).select("token")
        # materialize before unpersisting: the result is small (stopword
        # dimension) and callers broadcast it anyway
        out = out.localCheckpoint(eager=True)
        return out
    finally:
        dfreq.unpersist()


def blocking_quality(
    blocks: DataFrame,
    labeled_pairs: DataFrame,
    n_entities: int,
    pairs: DataFrame | None = None,
    **candidate_kwargs,
) -> dict:
    """Blocking diagnostics (reference B7 k-sweep analog,
    visualize_k_value_for_blocking.py:109-173): pair completeness
    (recall of true pairs through the blocks) and reduction ratio
    1 - |candidate pairs| / C(N,2). All aggregates, collected as scalars.

    Pass the PIPELINE's pair table via `pairs`, or its candidate_pairs
    knobs via **candidate_kwargs (max_block/salt_threshold/n_salts) —
    round-3 review: evaluating hardcoded defaults here could green-light
    a config whose real candidate generator drops different blocks.
    """
    from entity_resolution__spark.operators.pairs import candidate_pairs

    if pairs is None:
        pairs = candidate_pairs(blocks, **candidate_kwargs)
    n_pairs = pairs.count()
    pos = labeled_pairs.filter(F.col("label") == 1).select(
        F.col("conv_id_a").alias("id_left"), F.col("conv_id_b").alias("id_right")
    )
    n_pos = pos.count()
    hit = pos.join(pairs, ["id_left", "id_right"], "left_semi").count()
    total_possible = n_entities * (n_entities - 1) / 2
    return {
        "candidate_pairs": n_pairs,
        "pair_completeness": hit / n_pos if n_pos else 1.0,
        "reduction_ratio": 1.0 - n_pairs / total_possible if total_possible else 0.0,
    }


# ---------------------------------------------------------------------------
# MinHash-LSH keys (q-gram shingles → minhash signature → banded keys)
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 61) - 1


def _minhash_params(num_perm: int, seed: int = 7) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=num_perm, dtype=np.uint64)
    b = rng.integers(0, _MERSENNE, size=num_perm, dtype=np.uint64)
    return a, b


def minhash_sig_series(
    texts: pd.Series, num_perm: int = 32, qgram: int = 4, seed: int = 7
) -> pd.Series:
    """text → int64[num_perm] MinHash signature, one array per row.

    Shingles are character q-grams of the text; the whole batch stays in
    numpy, no per-row Python in the hot loop beyond the shingle split.
    Hash family: (a·h + b mod 2⁶⁴) mod p per permutation — numpy uint64
    arithmetic WRAPS the product before the Mersenne reduction, so this
    is a deterministic mixing family, NOT a textbook Carter-Wegman
    universal hash (round-3 review corrected an overclaiming comment;
    exact pairwise independence would need 128-bit multiplies).
    Empirically the minhash/Jaccard estimator is unbiased on the
    fixtures and the blocking recall gate (pair completeness ≥0.99,
    tests) is what actually pins behavior. The signatures are block
    keys, so shingling, hashing and parameters must not change.
    """
    a, b = _minhash_params(num_perm, seed)
    # pd.util.hash_array: deterministic 64-bit hashing (fixed-key
    # siphash), vectorized — immune to PYTHONHASHSEED randomization.
    # Hashing is BATCHED across rows (one call per ~200k shingles): the
    # per-call pandas dtype-dispatch overhead was ~half the kernel's CPU
    # when called once per row; per-element hashes are independent, so
    # the values are identical. No sort of the shingle set either — the
    # signature is a per-permutation MIN, order-independent.
    out: list = []
    buf: list[list[str]] = []
    buf_total = 0

    def flush() -> None:
        nonlocal buf, buf_total
        if not buf:
            return
        lens = [len(r) for r in buf]
        flat = np.empty(buf_total, dtype=object)
        pos = 0
        for r in buf:
            flat[pos : pos + len(r)] = r
            pos += len(r)
        hv = pd.util.hash_array(flat)
        # sig[p] = min_i (a[p]*h[i] + b[p] mod m): (P, total) broadcast,
        # then one segmented min per row
        prod = (hv[None, :] * a[:, None] + b[:, None]) % _MERSENNE
        offs = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=offs[1:])
        mins = np.minimum.reduceat(prod, offs, axis=1)
        for k in range(len(buf)):
            out.append(mins[:, k].astype(np.int64))
        buf = []
        buf_total = 0

    # incremental flush: only ONE chunk's shingle lists are ever live (a
    # whole 10k-row Arrow batch of ~350-shingle docs held ~3.5M python
    # strings per worker before hashing)
    for t in texts.fillna(""):
        if len(t) < qgram:
            r = [t] if t else [""]
        else:
            r = list({t[i : i + qgram] for i in range(len(t) - qgram + 1)})
        buf.append(r)
        buf_total += len(r)
        if buf_total >= 200_000:
            flush()
    flush()
    return pd.Series(out, index=texts.index, dtype=object)


def make_minhash_udf(num_perm: int = 32, qgram: int = 4, seed: int = 7):
    """minhash_sig_series as a standalone Arrow UDF: text → array<long>."""
    from pyspark.sql import types as T

    @pandas_udf(T.ArrayType(T.LongType()))
    def minhash_sig(texts: pd.Series) -> pd.Series:
        return minhash_sig_series(texts, num_perm, qgram, seed)

    return minhash_sig


def minhash_band_keys(
    conv: DataFrame,
    num_perm: int = 32,
    bands: int = 8,
) -> DataFrame:
    """LSH banding of the `sig` column canonicalize emits: the signature
    split into `bands` rows-per-band groups; block_key = band index +
    hash of the band slice. Pairs agreeing on any band become candidates
    (classic MinHash-LSH S-curve).
    """
    assert num_perm % bands == 0
    rows_per_band = num_perm // bands
    keys = conv.select(
        "conv_id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(str(i)),
                        F.hash(
                            F.slice("sig", i * rows_per_band + 1, rows_per_band)
                        ).cast("string"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("block_key"),
    )
    return keys
