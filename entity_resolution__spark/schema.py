"""The pipeline's input schema.

The reference has no schema system (hard-coded pandas column strings,
e.g. the reference's src/common_methods.py:21-34); here the input is a
typed StructType. Each later stage's columns are named in the docstring
of the operator that builds it, and its parquet snapshot carries them.
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
