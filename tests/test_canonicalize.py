"""The graft invariant: per-turn text equality under STABLE turn
ordering — input rows are shuffled, the window/sort must recover order
(BASELINE.json.input_hint)."""

from __future__ import annotations

from entity_resolution__spark.operators.canonicalize import canonicalize
from tests.oracle import canonicalize_pd


def test_turn_order_recovered(spark, tiny_transcripts, tiny_transcripts_sdf):
    conv = canonicalize(tiny_transcripts_sdf)
    got = {
        r["conv_id"]: (r["turn_texts"], r["roles"], r["n_turns"])
        for r in conv.collect()
    }
    t = tiny_transcripts.sort_values(["conv_id", "turn_idx"])
    for conv_id, g in t.groupby("conv_id"):
        texts, roles, n = got[conv_id]
        assert texts == list(g["text"])  # per-turn text equality, in order
        assert roles == list(g["role"])
        assert n == len(g)


def test_full_text_matches_oracle(spark, tiny_transcripts, tiny_transcripts_sdf):
    conv = canonicalize(tiny_transcripts_sdf)
    got = {r["conv_id"]: (r["full_text"], r["tokens"]) for r in conv.collect()}
    oracle = canonicalize_pd(tiny_transcripts)
    for _, r in oracle.iterrows():
        ft, toks = got[r["conv_id"]]
        assert ft == r["full_text"]
        assert toks == r["tokens"]


def test_fused_columns_match_kernels(spark, tiny_transcripts, tiny_transcripts_sdf):
    """One Arrow UDF emits norm_text, tokens, sig and countries; each
    equals its standalone kernel on full_text."""
    from entity_resolution__spark.operators.blocking import minhash_sig_series
    from tests.oracle import countries_ref

    rows = canonicalize(tiny_transcripts_sdf).toPandas()
    oracle = canonicalize_pd(tiny_transcripts).set_index("conv_id")
    rows = rows.set_index("conv_id").loc[oracle.index]
    assert list(rows["norm_text"]) == list(oracle["norm_text"])
    assert [list(t) for t in rows["token_set"]] == list(oracle["token_set"])
    assert [list(c) for c in rows["countries"]] == [
        countries_ref(t) for t in oracle["full_text"]
    ]
    want = minhash_sig_series(oracle["full_text"], 32)
    assert all(list(g) == list(w) for g, w in zip(rows["sig"], want))


def test_band_keys_over_fused_sig_equal_standalone_udf(spark, tiny_transcripts_sdf):
    """Block keys are semantics: banding the fused `sig` gives exactly
    the keys of the standalone MinHash UDF over full_text."""
    from pyspark.sql import functions as F

    from entity_resolution__spark.operators.blocking import (
        make_minhash_udf,
        minhash_band_keys,
    )

    conv = canonicalize(tiny_transcripts_sdf).localCheckpoint(eager=True)
    standalone = conv.drop("sig").withColumn(
        "sig", make_minhash_udf(num_perm=32)(F.col("full_text"))
    )
    fused_keys = minhash_band_keys(conv)
    udf_keys = minhash_band_keys(standalone)
    assert fused_keys.count() == 4 * conv.count()
    assert fused_keys.exceptAll(udf_keys).count() == 0
    assert udf_keys.exceptAll(fused_keys).count() == 0


def test_empty_and_all_null_text_inputs(spark):
    """Empty transcripts give no conversations; a conversation whose
    turns all have null text gets empty text columns and the signature
    of the empty string."""
    import pandas as pd

    from entity_resolution__spark.operators.blocking import minhash_sig_series
    from entity_resolution__spark.schema import TRANSCRIPTS

    empty = spark.createDataFrame([], schema=TRANSCRIPTS)
    assert canonicalize(empty).count() == 0

    nulls = spark.createDataFrame(
        [("c0", 0, "user", None, None, None), ("c0", 1, "assistant", None, "t", None)],
        schema=TRANSCRIPTS,
    )
    (row,) = canonicalize(nulls).collect()
    assert row["n_turns"] == 2
    assert row["full_text"] == ""
    assert row["norm_text"] == ""
    assert row["tokens"] == []
    assert row["token_set"] == []
    assert row["countries"] == []
    assert row["sig"] == list(minhash_sig_series(pd.Series([""]))[0])
