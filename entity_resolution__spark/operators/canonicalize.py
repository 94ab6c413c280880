"""Canonicalize transcripts: one row per conversation, turns ordered.

The graft invariant (BASELINE.json.input_hint): per-turn text equality
under STABLE turn ordering — input rows arrive shuffled; ordering must be
recovered from turn_idx, never from input order. The reference's analog
is the single `affil1` string per entity id
(/root/reference/src/common_methods.py:21-34); here the entity is a
conversation and its text is the ordered concatenation of turn texts.

Implementation note (scale): one groupBy(conv_id) with
sort_array(collect_list(struct(...))) — a single shuffle keyed on
conv_id, map-side partial aggregation, no window. A Window.partitionBy
(conv_id).orderBy(turn_idx) would shuffle identically but adds a sort
per partition AND a second pass to collapse rows; the struct-sort form
sorts only within each conversation's collected list. Conversations are
bounded (≤ hundreds of turns) so the per-group list is tiny; there is no
per-key skew beyond that bound at 10^12 turns.

Python crossing: the text columns every later stage reads come from ONE
struct-returning Arrow UDF over full_text — norm_text, tokens, the
MinHash signature blocking bands (`sig`) and the whitelisted countries
the geo constraint joins (`countries`). Each conversation's text ships
to a Python worker once per pass (CIDR 2022, PAPERS.md: every crossing
pays serialisation plus interpreter entry).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from entity_resolution__spark.functions.normalize import (
    _TOKEN_RE,
    normalize_series,
    token_set,
)
from entity_resolution__spark.operators.blocking import minhash_sig_series
from entity_resolution__spark.operators.constraints import countries_series


def _conversation_text_udf(num_perm: int | None):
    """Arrow UDF full_text → struct(norm_text, tokens[, sig], countries).

    `sig` is the num_perm-row MinHash signature of full_text (omitted
    when num_perm is None); norm_text is NFKD-folded once and tokens are
    its token runs."""
    fields = [
        T.StructField("norm_text", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.StringType())),
    ]
    if num_perm is not None:
        fields.append(T.StructField("sig", T.ArrayType(T.LongType())))
    fields.append(T.StructField("countries", T.ArrayType(T.StringType())))

    @pandas_udf(T.StructType(fields))
    def conversation_text(full_text: pd.Series) -> pd.DataFrame:
        norm = normalize_series(full_text)
        out = {"norm_text": norm, "tokens": norm.str.findall(_TOKEN_RE)}
        if num_perm is not None:
            out["sig"] = minhash_sig_series(full_text, num_perm)
        out["countries"] = countries_series(full_text)
        return pd.DataFrame(out)

    return conversation_text


def canonicalize(transcripts: DataFrame, num_perm: int | None = 32) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) → one row per
    conversation: (conv_id, n_turns, turn_texts, roles, tools, full_text,
    norm_text, tokens, token_set, sig, countries).

    sort_array on struct(turn_idx, ...) sorts lexicographically by the
    first field — turn_idx — giving the stable turn ordering; ties cannot
    occur (turn_idx unique per conv_id). `num_perm` sizes the MinHash
    signature; None (blocking without MinHash) emits no `sig` column.
    """
    turns = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("turn_idx"),
                F.col("text"),
                F.col("role"),
                # null tool → '' sentinel so the array slot is preserved
                F.coalesce(F.col("tool"), F.lit("")).alias("tool"),
            )
        )
    )
    spark = transcripts.sparkSession
    conv = (
        transcripts.repartition(
            # tokenize/normalize UDFs downstream are CPU-bound on small
            # bytes: pre-shuffling on conv_id at full core-count keeps
            # AQE from coalescing the UDF stage to few tasks (the groupBy
            # reuses this partitioning, so no extra shuffle is added)
            spark.sparkContext.defaultParallelism,
            "conv_id",
        )
        .groupBy("conv_id")
        .agg(turns.alias("turns"))
        .select(
            "conv_id",
            F.size("turns").cast("int").alias("n_turns"),
            F.col("turns.text").alias("turn_texts"),
            F.col("turns.role").alias("roles"),
            F.col("turns.tool").alias("tools"),
            F.array_join(F.col("turns.text"), " ").alias("full_text"),
        )
    )
    sig = [F.col("_ct.sig").alias("sig")] if num_perm is not None else []
    return conv.withColumn(
        "_ct", _conversation_text_udf(num_perm)(F.col("full_text"))
    ).select(
        *conv.columns,
        F.col("_ct.norm_text").alias("norm_text"),
        F.col("_ct.tokens").alias("tokens"),
        token_set(F.col("_ct.tokens")).alias("token_set"),
        *sig,
        F.col("_ct.countries").alias("countries"),
    )
