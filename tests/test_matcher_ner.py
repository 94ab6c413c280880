"""Blocking recall (reference B7): the rare-token keys alone catch the
labeled duplicate families."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_blocking_quality_metrics(spark, tiny_transcripts, tiny_transcripts_sdf):
    from entity_resolution__spark.data.synth import make_labeled_pairs
    from entity_resolution__spark.operators.blocking import rare_token_keys
    from entity_resolution__spark.operators.canonicalize import canonicalize
    from entity_resolution__spark.operators.pairs import candidate_pairs

    conv = canonicalize(tiny_transcripts_sdf)
    n = conv.count()
    pairs = candidate_pairs(rare_token_keys(conv))
    n_pairs = pairs.count()
    labeled = spark.createDataFrame(make_labeled_pairs(tiny_transcripts, seed=42))
    pos = labeled.filter(F.col("label") == 1).select(
        F.col("conv_id_a").alias("id_left"), F.col("conv_id_b").alias("id_right")
    )
    n_pos = pos.count()
    hit = pos.join(pairs, ["id_left", "id_right"], "left_semi").count()
    assert n_pos > 0
    assert hit / n_pos >= 0.99  # pair completeness: rare-token keys catch dup families
    assert 1.0 - n_pairs / (n * (n - 1) / 2) > 0.5  # reduction ratio
