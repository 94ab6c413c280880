from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from entity_resolution__spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("er-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def tiny_transcripts():
    from entity_resolution__spark.data.synth import make_transcripts

    return make_transcripts(seed=42, n_entities=40)


@pytest.fixture(scope="session")
def tiny_transcripts_sdf(spark, tiny_transcripts):
    from entity_resolution__spark.schema import TRANSCRIPTS

    return spark.createDataFrame(tiny_transcripts, schema=TRANSCRIPTS)


@pytest.fixture
def no_auto_broadcast(spark):
    """Turn Spark's own size-based broadcast off for one test, so a
    BroadcastHashJoin in a plan can only come from an operator's hint."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield
    spark.conf.set(key, old)
