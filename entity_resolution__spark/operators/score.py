"""Pair scoring: features → prob_match → pred_match.

The reference trains an XGBoost matcher and thresholds at the F1-optimal
point (/root/reference/models/pairwise_classifier.py:284-371,239-256).
Classifier randomness threatens the determinism the F1≥0.99 gate needs
(SURVEY.md §7), so the default matcher is a DETERMINISTIC fixed-weight
convex combination of the feature family — the same scoring applied by
the pandas/NumPy oracle in tests.

Output schema mirrors classifier_predictions_xgb_k40.csv
(/root/reference/scripts/train_classifier.py:27-30).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_resolution__spark.functions.features import (
    FEATURE_COLS,
    make_feature_udf,
)
from entity_resolution__spark.functions.normalize import jaccard

# Fixed convex weights (sum = 1.0). Token-level evidence dominates —
# matches the xgb model's learned emphasis on token_jaccard/cosine for
# the reference corpus; values chosen for margin on the synthetic
# fixtures and frozen for determinism.
SCORE_WEIGHTS: dict[str, float] = {
    "token_jaccard": 0.30,
    "token_cosine": 0.20,
    "tfidf_word_cosine": 0.15,
    "edit_ratio": 0.10,
    "jaro_winkler": 0.05,
    "lcs_ratio": 0.05,
    "tfidf_char_cosine": 0.05,
    "dmetaphone_match": 0.02,
    "role_seq_sim": 0.03,
    "tool_seq_sim": 0.05,
}

# The pre-gate below the reference's C4 token-overlap prune of 0.20
# (token_overlap_constraint.py:26): conservative, never prunes a pair
# the reference keeps.
MIN_TOKEN_JACCARD = 0.15


def featurize_pairs(pairs_with_payload: DataFrame) -> DataFrame:
    """Pairs joined with payload cols (norm_text/token_set/roles_seq/
    tools_seq ×_l/_r) → + the 10 feature columns. token_jaccard stays in
    Catalyst; the rest is one Arrow-batched struct UDF call (one Python
    round-trip per batch). Token-count vectors are derived from
    norm_text inside the kernel, so the payload ships no `tokens` column
    (shuffle bytes were the 8→32 scaling limiter at 537k turns).

    MIN_TOKEN_JACCARD is the C4 token-overlap prune of the reference
    (token_overlap_constraint.py:26 prunes < 0.20) applied BEFORE the
    expensive kernels: the cheap codegen'd jaccard gates the Python UDF,
    so blocking false-positives never pay the string-kernel cost. The
    pandas oracle applies the identical rule (tests/oracle.py).
    """
    feat = make_feature_udf()
    df = pairs_with_payload.withColumn(
        "token_jaccard", jaccard(F.col("token_set_l"), F.col("token_set_r"))
    )
    # reference skip semantics (token_overlap_constraint.py:16-70):
    # NEVER prune when either side has no tokens — no evidence is not
    # negative evidence. The empty-side jaccard convention is 0.0, so
    # without the exemption such pairs would be silently dropped.
    df = df.filter(
        (F.col("token_jaccard") >= F.lit(MIN_TOKEN_JACCARD))
        | (F.size("token_set_l") == 0)
        | (F.size("token_set_r") == 0)
    )
    df = df.withColumn(
        "_f",
        feat(
            F.col("norm_text_l"),
            F.col("norm_text_r"),
            F.col("roles_seq_l"),
            F.col("roles_seq_r"),
            F.col("tools_seq_l"),
            F.col("tools_seq_r"),
        ),
    )
    for c in FEATURE_COLS:
        if c != "token_jaccard":
            df = df.withColumn(c, F.col(f"_f.{c}"))
    return df.drop("_f")


def score_pairs(features_df: DataFrame, threshold: float) -> DataFrame:
    """Weighted deterministic score → (id_left, id_right, prob_match,
    pred_match ≡ prob_match ≥ threshold) + passthrough of feature
    columns."""
    expr = None
    for c, w in SCORE_WEIGHTS.items():
        term = F.col(c) * F.lit(w)
        expr = term if expr is None else expr + term
    df = features_df.withColumn("prob_match", expr).withColumn(
        "pred_match", (F.col("prob_match") >= F.lit(threshold)).cast("int")
    )
    return df
