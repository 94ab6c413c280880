"""Plan-shape regression guards over the ENTIRE gate query surface.

Every __spark_entry__.queries() entry is compiled (and, where operators
execute eagerly, run at sf0.001) and its physical plan asserted free of
the two shapes that do not survive 100 TB:

* CartesianProductExec — an unkeyed join that scales as |L|·|R| tasks.
  The intentional crossJoins in this repo (single-row broadcast dims:
  collected stopword sets, corpus-level IDF stats) compile to
  BroadcastNestedLoopJoin with a 1-row build side, which is bounded and
  allowed.
* Non-broadcast NestedLoopJoin — same blow-up through the sort-merge
  path.

This is the executable form of the per-operator plan audits in
BASELINE.md: a future edit that silently turns a keyed join into a
cartesian (e.g. dropping a join condition during a refactor) fails CI
instead of surfacing as a 100× cost at scale.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _plan_of(df) -> str:
    # final physical plan before AQE execution — join strategy choices
    # are visible here; executing every query would make this test pay
    # the full gate cost for a structural assertion
    return df._jdf.queryExecution().sparkPlan().toString()


def _query_names():
    import __spark_entry__ as entrymod

    return sorted(entrymod.queries().keys())


@pytest.mark.parametrize("name", _query_names())
def test_no_cartesian_in_gate_query(spark, name):
    import __spark_entry__ as entrymod

    df = entrymod.queries()[name](spark, SF_DIR)
    plan = _plan_of(df)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian:\n{plan}"
    # NestedLoopJoin is only acceptable as a broadcast of a bounded dim
    for line in plan.splitlines():
        if "NestedLoopJoin" in line:
            assert "Broadcast" in line, (
                f"{name} plans a non-broadcast nested loop join:\n{plan}"
            )


def test_one_python_crossing_per_conversation(spark):
    """canonicalize ships the text to Python once (one ArrowEvalPython
    node); blocking and the geo constraint read its columns and add no
    Python node of their own."""
    from pyspark.sql import functions as F

    from entity_resolution__spark.data.synth import make_transcripts
    from entity_resolution__spark.operators.canonicalize import canonicalize
    from entity_resolution__spark.operators.constraints import flag_geo
    from entity_resolution__spark.plans.pipeline import ERConfig, build_blocks
    from entity_resolution__spark.schema import TRANSCRIPTS

    # an input no other test caches: a cached canonicalize plan would be
    # served as an InMemoryRelation whose string repeats the UDF node
    transcripts = spark.createDataFrame(
        make_transcripts(seed=5, n_entities=6), schema=TRANSCRIPTS
    )
    conv = canonicalize(transcripts)
    assert _plan_of(conv).count("ArrowEvalPython") == 1, _plan_of(conv)
    conv = conv.localCheckpoint(eager=True)
    scored = conv.select(
        F.col("conv_id").alias("id_left"),
        F.col("conv_id").alias("id_right"),
        F.lit(1.0).alias("prob_match"),
    )
    for df in (build_blocks(conv, ERConfig(), n_docs=conv.count()), flag_geo(scored, conv)):
        plan = _plan_of(df)
        assert "ArrowEvalPython" not in plan, plan
