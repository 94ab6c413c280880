"""Blocking: candidate-generation keys for conversations.

The reference blocks by brute-force TF-IDF cosine kNN over all N entities
(/root/reference/scripts/run_blocking.py:28-37) — O(N²), impossible at
10^12 turns. We replace it (per north_star) with key-based blocking:

  * token keys   — rarest normalized tokens per conversation
  * q-gram MinHash-LSH bands — near-duplicate-robust keys computed in a
    vectorized pandas UDF (numpy, Arrow-batched)

Two conversations become a candidate pair iff they share ≥1 key. Hot
keys (skew) are handled by `saltjoin.capped_salted_self_join`, which
`pairs.candidate_pairs` calls: a block larger than `pairs.MAX_BLOCK` is
dropped, and a block larger than `pairs.SALT_THRESHOLD` is split into S
salted sub-blocks whose pairs are generated per sub-block PAIR (triangle
enumeration), so every pair is still emitted exactly once but no single
task holds the whole hot block.

The blocking parameters are the module constants below; the pipeline
folds them into its stage fingerprints (`ERConfig.params`).
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


# share of the corpus above which a token is a stopword, not a block key
MAX_DF_FRAC = 0.005
# absolute document-frequency cap on a token key
RARE_TOKEN_MAX_DF = 200
# token keys per conversation, rarest first
RARE_TOKENS_PER_CONV = 4


def rare_token_keys(conv: DataFrame, n_docs: int | None = None) -> DataFrame:
    """Keys = up to RARE_TOKENS_PER_CONV rarest tokens of each conversation.

    Document frequency is a groupBy aggregate (map-side combined); tokens
    with DF > the cap are dropped (stopword-like, would create hot
    blocks). The cap is min(RARE_TOKEN_MAX_DF, MAX_DF_FRAC·N): an
    absolute cap alone is wrong under corpus growth — a token in 0.5% of
    10¹⁰ conversations is a stopword, not a key. Rarest-token blocking is
    the scalable analog of the reference's TF-IDF weighting: rare tokens
    carry the discriminative signal.
    """
    # n_docs threads one corpus count through every operator that needs
    # it (round-1 flag: 3 redundant count jobs per pipeline run)
    n = n_docs if n_docs is not None else conv.count()
    max_df = max(10, min(RARE_TOKEN_MAX_DF, int(MAX_DF_FRAC * n)))
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
        .filter(F.col("rn") <= RARE_TOKENS_PER_CONV)
    )
    return ranked.select("conv_id", F.col("token").alias("block_key"))


def token_doc_freq(conv: DataFrame) -> DataFrame:
    """(token, df) over the corpus: the document frequency that
    rare_token_keys caps and ranks by. Map-side combined; shuffle
    carries one row per distinct (token, partial count)."""
    return (
        conv.select(F.explode("token_set").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )


# ---------------------------------------------------------------------------
# MinHash-LSH keys (q-gram shingles → minhash signature → banded keys)
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 61) - 1

# signature length (permutations) and LSH bands: 8 rows/band is a strict
# S-curve. Rare-token keys carry family recall (pair completeness ≥0.99
# on the fixtures); LSH is the near-dup backup, so a steep curve keeps
# pair volume low.
MINHASH_PERM = 32
MINHASH_BANDS = 4
# shingle width (characters) and the seed of the permutation family
QGRAM = 4
MINHASH_SEED = 7


def _minhash_params(num_perm: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(MINHASH_SEED)
    a = rng.integers(1, _MERSENNE, size=num_perm, dtype=np.uint64)
    b = rng.integers(0, _MERSENNE, size=num_perm, dtype=np.uint64)
    return a, b


def minhash_sig_series(texts: pd.Series, num_perm: int = MINHASH_PERM) -> pd.Series:
    """text → int64[num_perm] MinHash signature, one array per row.

    Shingles are the text's character QGRAM-grams; the whole batch stays
    in numpy, no per-row Python in the hot loop beyond the shingle split.
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
    a, b = _minhash_params(num_perm)
    qgram = QGRAM  # a local: the shingle loop reads it per character
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


def make_minhash_udf(num_perm: int = MINHASH_PERM):
    """minhash_sig_series as a standalone Arrow UDF: text → array<long>."""
    from pyspark.sql import types as T

    @pandas_udf(T.ArrayType(T.LongType()))
    def minhash_sig(texts: pd.Series) -> pd.Series:
        return minhash_sig_series(texts, num_perm)

    return minhash_sig


def minhash_band_keys(conv: DataFrame) -> DataFrame:
    """LSH banding of the MINHASH_PERM-long `sig` column canonicalize
    emits: the signature split into MINHASH_BANDS groups of rows;
    block_key = band index + hash of the band slice. Pairs agreeing on
    any band become candidates (classic MinHash-LSH S-curve).
    """
    assert MINHASH_PERM % MINHASH_BANDS == 0
    rows_per_band = MINHASH_PERM // MINHASH_BANDS
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
                    for i in range(MINHASH_BANDS)
                ]
            )
        ).alias("block_key"),
    )
    return keys
