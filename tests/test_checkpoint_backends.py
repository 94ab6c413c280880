"""Stage-store contract, parameterized over BOTH snapshot backends
(round-3 VERDICT #8): the parquet+manifest StageStore and the Iceberg
`writeTo` backend must behave identically under the fingerprint gate —
resume on identical params, recompute on changed params, committed
manifest with row metrics. The Iceberg leg self-skips where the
iceberg-spark runtime jars are absent (this container), and runs for
real the moment a catalog can be configured."""

from __future__ import annotations

import pytest

from entity_resolution__spark.plans.checkpoint import (
    IcebergStageStore,
    StageStore,
)


@pytest.fixture(params=["parquet", "iceberg"])
def store(request, spark, tmp_path_factory):
    if request.param == "parquet":
        return StageStore(str(tmp_path_factory.mktemp("stage_store")))
    wh = str(tmp_path_factory.mktemp("iceberg_wh"))
    spark.conf.set(
        "spark.sql.catalog.ice_test", "org.apache.iceberg.spark.SparkCatalog"
    )
    spark.conf.set("spark.sql.catalog.ice_test.type", "hadoop")
    spark.conf.set("spark.sql.catalog.ice_test.warehouse", wh)
    try:
        return IcebergStageStore(spark, "ice_test")
    except Exception as e:  # catalog class not on the classpath
        pytest.skip(f"iceberg runtime not available: {type(e).__name__}")


def test_stage_resume_and_invalidation_contract(store, spark):
    calls: list[int] = []

    def compute():
        calls.append(1)
        return spark.range(5).withColumnRenamed("id", "x")

    df1 = store.stage(spark, "contract_stage", {"p": 1}, compute)
    assert df1.count() == 5
    assert calls == [1]

    # identical params → resume from the committed snapshot, no recompute
    df2 = store.stage(spark, "contract_stage", {"p": 1}, compute)
    assert calls == [1]
    assert sorted(r["x"] for r in df2.collect()) == [0, 1, 2, 3, 4]

    # changed params → fingerprint miss → recompute
    store.stage(spark, "contract_stage", {"p": 2}, compute)
    assert calls == [1, 1]

    m = store.manifest("contract_stage")
    assert m["committed"] is True
    assert m["metrics"]["rows_out"] == 5
    assert m["stage"] == "contract_stage"
    assert sum(p["rows"] for p in m["partitions"]) == 5


def test_stage_lineage_invalidation_contract(store, spark):
    """A downstream stage must recompute when its upstream committed a
    NEW snapshot, even with identical params (the lineage fold)."""
    downstream_calls: list[int] = []

    def up(v):
        return lambda: spark.range(v).withColumnRenamed("id", "x")

    def down():
        downstream_calls.append(1)
        return store.read(spark, "lin_up").agg({"x": "max"}).withColumnRenamed(
            "max(x)", "mx"
        )

    store.stage(spark, "lin_up", {"v": 3}, up(3))
    store.stage(spark, "lin_down", {"q": 1}, down, lineage=["lin_up"])
    store.stage(spark, "lin_down", {"q": 1}, down, lineage=["lin_up"])
    assert downstream_calls == [1]  # resumed
    store.stage(spark, "lin_up", {"v": 4}, up(4))  # upstream recommits
    out = store.stage(spark, "lin_down", {"q": 1}, down, lineage=["lin_up"])
    assert downstream_calls == [1, 1]
    assert out.collect()[0]["mx"] == 3


def test_bucketed_commit_colocated_join(spark, tmp_path_factory):
    """Two stages bucketed by the same key join with NO Exchange: the
    shuffle is paid once at commit time and every downstream consumer
    reads co-located buckets — the cross-stage partitioning-reuse lever
    the plain parquet snapshots can't express. A plain-snapshot control
    join of the same data DOES show Exchanges, so the assertion is
    non-vacuous."""
    from pyspark.sql import functions as F

    store = StageStore(str(tmp_path_factory.mktemp("bucketed_store")))
    a = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    sa = store.commit_bucketed(a, "stage_a", "fp-a", 8, ["k"], sort_cols=["k"])
    sb = store.commit_bucketed(b, "stage_b", "fp-b", 8, ["k"], sort_cols=["k"])

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = sa.join(sb, "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        rows = joined.count()
        assert rows == 1000

        # control: identical data through the PLAIN snapshot path needs
        # a shuffle on both sides
        pa = store.commit(a, "plain_a", "fp-pa")
        pb = store.commit(b, "plain_b", "fp-pb")
        ctl = pa.join(pb, "k")
        ctl_plan = ctl._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in ctl_plan
        assert ctl.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)

    # manifest records the bucket spec; catalog-aware read round-trips
    m = store.manifest("stage_a")
    assert m["bucket_spec"]["n_buckets"] == 8
    assert m["bucket_spec"]["bucket_cols"] == ["k"]
    again = store.read_bucketed(spark, "stage_a")
    assert again.count() == 1000


def test_bucketed_stage_names_that_sanitize_alike(spark, tmp_path_factory):
    """'s.x' and 's_x' map to the same SQL-safe characters; each still
    gets its own catalog table, so committing the second does not drop
    the first and both read back their own rows."""
    from pyspark.sql import functions as F

    store = StageStore(str(tmp_path_factory.mktemp("bucketed_alike")))
    store.commit_bucketed(
        spark.range(10).select(F.col("id").alias("k")), "s.x", "fp-1", 2, ["k"]
    )
    store.commit_bucketed(
        spark.range(25).select(F.col("id").alias("k")), "s_x", "fp-2", 2, ["k"]
    )
    t1 = store.manifest("s.x")["bucket_spec"]["table"]
    t2 = store.manifest("s_x")["bucket_spec"]["table"]
    assert t1 != t2
    assert spark.catalog.tableExists(t1) and spark.catalog.tableExists(t2)
    assert store.read_bucketed(spark, "s.x").count() == 10
    assert store.read_bucketed(spark, "s_x").count() == 25
