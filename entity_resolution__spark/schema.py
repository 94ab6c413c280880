"""Explicit schemas for every table the pipeline reads or writes.

The reference has no schema system (hard-coded pandas column strings,
e.g. /root/reference/src/common_methods.py:21-34); here every stage
boundary is a typed StructType so Iceberg/parquet checkpoints are
self-describing and resumable.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Input per BASELINE.json.input_hint: one row per conversation turn.
TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# Canonicalized entity view: one row per conversation, turns ordered.
# norm_text, tokens, sig and countries come from canonicalize's one Arrow
# UDF over full_text: sig is the MinHash signature blocking bands (absent
# when blocking runs without MinHash), countries the sorted whitelisted
# countries the geo constraint compares.
CONVERSATIONS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("n_turns", T.IntegerType(), False),
        T.StructField("turn_texts", T.ArrayType(T.StringType()), False),
        T.StructField("roles", T.ArrayType(T.StringType()), False),
        T.StructField("tools", T.ArrayType(T.StringType()), False),
        T.StructField("full_text", T.StringType(), False),
        T.StructField("norm_text", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.StringType()), False),
        T.StructField("token_set", T.ArrayType(T.StringType()), False),
        T.StructField("sig", T.ArrayType(T.LongType()), False),
        T.StructField("countries", T.ArrayType(T.StringType()), False),
    ]
)

# Ground-truth labeled pairs (analog of affiliationstrings_mapping.csv).
LABELED_PAIRS = T.StructType(
    [
        T.StructField("conv_id_a", T.StringType(), False),
        T.StructField("conv_id_b", T.StringType(), False),
        T.StructField("label", T.IntegerType(), False),
        T.StructField("block_key", T.StringType(), True),
    ]
)

# Candidate pairs after blocking (canonical id_left < id_right).
CANDIDATE_PAIRS = T.StructType(
    [
        T.StructField("id_left", T.StringType(), False),
        T.StructField("id_right", T.StringType(), False),
        T.StructField("block_key", T.StringType(), True),
    ]
)

# Scored pairs (analog of classifier_predictions_xgb_k40.csv schema,
# /root/reference/scripts/train_classifier.py:27-30).
SCORED_PAIRS = T.StructType(
    [
        T.StructField("id_left", T.StringType(), False),
        T.StructField("id_right", T.StringType(), False),
        T.StructField("prob_match", T.DoubleType(), False),
        T.StructField("pred_match", T.IntegerType(), False),
    ]
)

# Final clusters (analog of er_clusters_transitive.csv,
# /root/reference/scripts/apply_transitivity.py:144-168).
CLUSTERS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("cluster_id", T.LongType(), False),
        T.StructField("cluster_size", T.IntegerType(), False),
    ]
)
