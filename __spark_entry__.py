"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)      — flagship: full ER pipeline (synthetic transcripts →
                    clusters) at tiny scale.
queries()         — one entry per implemented operator family
                    (SURVEY.md §2 + training-data ops), each over the
                    /root/testdata parquet tables.
oracle_sql()      — DuckDB-equivalent SQL per query (column names/
                    aliases match exactly; floats rounded to 6 on both
                    sides). Queries without an entry get the driver's
                    rows-only check (noted inline).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

TOKEN_RE = "[a-z0-9]+"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _ts(spark: SparkSession, sf_dir: str, name: str, *key_cols: str) -> DataFrame:
    """_t + adaptive scan spread (operators/scanspread.py): the testdata
    parquets are single-row-group files that scan as ONE task, so text-
    heavy projections planned into the scan run serially; spreading the
    raw rows first parallelizes them. No-op when the scan already has
    enough splits, so plans are unchanged on properly-split tables."""
    from entity_resolution__spark.operators.scanspread import spread_scan

    return spread_scan(_t(spark, sf_dir, name), *key_cols)


def _toks(col):
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_RE), 0)


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full ER pipeline on deterministic synthetic
    transcripts (BASELINE.json input_hint shape) → cluster table."""
    from entity_resolution__spark.data.synth import make_transcripts
    from entity_resolution__spark.plans.pipeline import ERConfig, run_pipeline
    from entity_resolution__spark.schema import TRANSCRIPTS

    pdf = make_transcripts(seed=42, n_entities=30)
    sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS)
    res = run_pipeline(spark, sdf, ERConfig())
    return res.clusters


# ---------------------------------------------------------------------------
# queries over /root/testdata tables
# ---------------------------------------------------------------------------


def q_tokenize_stats(spark, sf):
    d = _ts(spark, sf, "documents", "doc_id")
    toks = _toks(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
    )


def q_block_keys(spark, sf):
    d = _ts(spark, sf, "documents", "doc_id")
    return (
        d.select(F.try_element_at(_toks(F.col("text")), F.lit(1)).alias("block_key"))
        .filter(F.col("block_key").isNotNull())
        .groupBy("block_key")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_candidate_pairs(spark, sf):
    # materialize the tokenized projection once: both join branches would
    # otherwise re-run the tokenizer off the same scan (round-1 flag)
    d = (
        # repartition the RAW rows before the tokenizer projection — a
        # single-row-group scan would otherwise run the regex serially
        # in its one task (operators/scanspread.py rationale)
        _t(spark, sf, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", F.try_element_at(_toks(F.col("text")), F.lit(1)).alias("bk"))
        .localCheckpoint(eager=True)
    )
    l, r = d.alias("l"), d.alias("r")
    return (
        l.join(r, "bk")
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("id_left"),
            F.col("r.doc_id").alias("id_right"),
        )
        .dropDuplicates(["id_left", "id_right"])
    )


def q_pair_token_jaccard(spark, sf):
    from entity_resolution__spark.functions.normalize import jaccard

    d = (
        # raw rows first, tokenizer after the exchange (same serial-scan
        # rationale as q_candidate_pairs)
        _t(spark, sf, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select(
            "doc_id",
            F.try_element_at(_toks(F.col("text")), F.lit(1)).alias("bk"),
            F.array_sort(F.array_distinct(_toks(F.col("text")))).alias("ts"),
        )
        .localCheckpoint(eager=True)  # shared child for both join sides
    )
    l = d.select(F.col("doc_id").alias("id_left"), "bk", F.col("ts").alias("ts_l"))
    r = d.select(F.col("doc_id").alias("id_right"), F.col("bk").alias("bk_r"), F.col("ts").alias("ts_r"))
    return (
        l.join(r, (F.col("bk") == F.col("bk_r")) & (F.col("id_left") < F.col("id_right")))
        .select(
            "id_left",
            "id_right",
            F.round(jaccard(F.col("ts_l"), F.col("ts_r")), 6).alias("token_jaccard"),
        )
        .dropDuplicates(["id_left", "id_right"])
    )


def q_exact_dedup(spark, sf):
    from entity_resolution__spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf, "documents"))


def q_minhash_signature(spark, sf):
    from entity_resolution__spark.operators.dedup import minhash_md5

    d = _ts(spark, sf, "documents", "doc_id")
    toks = _toks(F.col("text"))
    return d.select(
        "doc_id",
        *[minhash_md5(toks, s).alias(f"mh_{s}") for s in range(4)],
    )


# Shared near-dup candidate stage (round-2 VERDICT #4): ngram_neardup_
# pairs, cc_clusters and cohort_clusters all consume the identical
# (n, threshold) pair table over `documents`; each used to re-run the
# full shingle→minhash→band→join pass (~3× the cost at bench scale).
# Stage it once per (session, sf_dir, n, threshold) — localCheckpoint is
# the local analog of a staged table (plans.checkpoint.StageStore on a
# cluster).
_NEARDUP_CACHE: dict = {}


def _neardup_pairs(spark, sf, n=3, threshold=0.2):
    # identity check holds the session OBJECT (not id(): a freed
    # session's address can be reused by a successor, false-hitting the
    # cache with DataFrames bound to a dead SparkContext)
    if _NEARDUP_CACHE.get("_session") is not spark:
        _NEARDUP_CACHE.clear()
        _NEARDUP_CACHE["_session"] = spark
    key = (sf, n, threshold)
    if key not in _NEARDUP_CACHE:
        from entity_resolution__spark.operators.dedup import ngram_jaccard_pairs

        _NEARDUP_CACHE[key] = ngram_jaccard_pairs(
            _t(spark, sf, "documents"), n=n, threshold=threshold
        ).localCheckpoint(eager=True)
    return _NEARDUP_CACHE[key]


def q_ngram_neardup_pairs(spark, sf):
    return _neardup_pairs(spark, sf, n=3, threshold=0.2)


def q_acronyms(spark, sf):
    """Acronym extraction over documents.text UNION the orders priority
    strings. The synthetic document corpus is entirely lowercase — round
    1's documents-only oracle row passed vacuously (0 == 0 rows); the
    priority strings ('1-URGENT', '4-NOT SPECIFIED', …) exercise the
    uppercase-run + hyphen-strip + digit-filter rules for real. Unit
    coverage with mixed-case fixtures: tests/test_dedup_textstats.py."""
    from entity_resolution__spark.operators.textstats import acronyms_col

    d = _ts(spark, sf, "documents", "doc_id").select(F.col("text"))
    o = _t(spark, sf, "orders").select(F.col("o_orderpriority").alias("text"))
    return (
        d.unionAll(o)
        .select(F.explode(acronyms_col(F.col("text"))).alias("acronym"))
        .groupBy("acronym")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_minhash_buckets(spark, sf):
    from entity_resolution__spark.operators.dedup import minhash_buckets

    b = minhash_buckets(_t(spark, sf, "documents"), n_hashes=4, band_size=2)
    return (
        b.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_docs") > 1)
        .select(F.col("band").cast("long").alias("band"), "bucket", "n_docs", "keep_id")
    )


def q_lang_quality(spark, sf):
    from entity_resolution__spark.operators.textstats import lang_id, quality_features

    d = quality_features(_ts(spark, sf, "documents", "doc_id").select("doc_id", "text"))
    return d.select(
        "doc_id",
        lang_id(F.col("text")).alias("lang_pred"),
        F.col("q_tokens").cast("long").alias("q_tokens"),
        "q_chars_per_token",
        "q_stopword_ratio",
        "q_punct_ratio",
    )


def q_token_counts(spark, sf):
    """Whitespace + BPE-ish token counts (training-data token budgeting)."""
    from entity_resolution__spark.operators.textstats import (
        bpe_ish_count,
        token_count,
    )

    d = _ts(spark, sf, "documents", "doc_id")
    return d.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("ws_tokens"),
        bpe_ish_count(F.col("text")).cast("long").alias("bpe_tokens"),
    )


def q_doc_fingerprint(spark, sf):
    from entity_resolution__spark.operators.textstats import fingerprint_col

    return _ts(spark, sf, "documents", "doc_id").select(
        "doc_id", fingerprint_col(F.col("text")).alias("fp")
    )


def q_simhash(spark, sf):
    """md5-based 64-bit SimHash as 16-char hex (round 3: the hash basis
    moved from pandas-siphash to md5 so the DuckDB oracle can recompute
    it per-hex-digit — closes the round-2 rows-only gap)."""
    from entity_resolution__spark.operators.dedup import simhash_hex
    from entity_resolution__spark.operators.textstats import tokens_col

    d = _t(spark, sf, "documents")
    # heavy per-row expression: spread a small single-file scan across cores
    return d.repartition(spark.sparkContext.defaultParallelism).select(
        "doc_id", simhash_hex(tokens_col(F.col("text"))).alias("simhash")
    )


def q_embedding_topk(spark, sf):
    """Brute-force cosine top-20 vs the vec_id=0 probe via the numpy
    batch kernel; ordered by the ROUNDED similarity so Spark/DuckDB
    float ulps can't flip ranks."""
    from entity_resolution__spark.operators.similarity import brute_topk

    e = _t(spark, sf, "embeddings")
    probe = e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return brute_topk(e.filter(F.col("vec_id") != 0), list(probe), k=20)


def q_knn_join(spark, sf):
    from entity_resolution__spark.operators.similarity import knn_join_topk

    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    out = knn_join_topk(e.filter(F.col("vec_id") >= 3), q, k=5)
    return out.select("qid", "vec_id", "cos_sim", F.col("rank").cast("long").alias("rank"))


def q_embedding_neardup(spark, sf):
    """Embedding-cosine near-dup pairs (training-data dedup family):
    deterministic sign-bucket LSH candidates + exact cosine rerank."""
    from entity_resolution__spark.operators.similarity import (
        sign_bucket_neardup_pairs,
    )

    return sign_bucket_neardup_pairs(
        _t(spark, sf, "embeddings"), n_dims=8, threshold=0.25
    )


def q_semantic_dedup(spark, sf):
    """Semantic dedup over embeddings (round 6, SemDeDup-style): sign
    -bucket LSH near-dup pairs (same config as embedding_neardup) →
    connected components → keep the min-id representative of each
    near-dup cluster. Composes the staged operators end-to-end: the
    output is label-free ((vec_id, rep_id, cluster_size, kept)), so the
    hash compare pins component STRUCTURE, not an arbitrary labelling.
    Scale: pairs are capped/salted LSH (no all-pairs), CC is the
    size-adaptive star-loop/DSU, reps via one groupBy — no driver
    loops."""
    from entity_resolution__spark.operators.cluster import connected_components
    from entity_resolution__spark.operators.similarity import (
        sign_bucket_neardup_pairs,
    )

    emb = _t(spark, sf, "embeddings")
    pairs = sign_bucket_neardup_pairs(emb, n_dims=8, threshold=0.25)
    edges = pairs.select(
        F.col("id_left").alias("src"), F.col("id_right").alias("dst")
    )
    cc = connected_components(edges)
    nodes = emb.select(F.col("vec_id").alias("node"))
    full = nodes.join(cc.assignments, "node", "left").withColumn(
        "rep_id", F.coalesce("root", "node")
    )
    sizes = full.groupBy("rep_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return full.join(sizes, "rep_id").select(
        F.col("node").alias("vec_id"),
        "rep_id",
        "cluster_size",
        F.when(F.col("node") == F.col("rep_id"), 1)
        .otherwise(0)
        .cast("int")
        .alias("kept"),
    )


def q_ivf_topk(spark, sf):
    """IVF (inverted-file) ANN search — the declared 100 TB scale path
    (scan touches n_probe/n_centroids of the corpus; with the
    assignment persisted+partitioned by list_id the filter is partition
    pruning). Engine-reproducible for the gate: centroids are the 8
    md5-smallest corpus rows (hash-deterministic sampler), assignment
    and centroid ranking argmax over round(cos, 6) with ties to the
    lowest list id. Replaces the reference's exact kNN blocking
    (scripts/run_blocking.py:28-37) at corpus scales where exact kNN
    is infeasible."""
    from entity_resolution__spark.operators.similarity import (
        hash_sampled_centroids,
        ivf_topk,
    )

    e = _t(spark, sf, "embeddings")
    corpus = e.filter(F.col("vec_id") != 0)
    probe = e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    C = hash_sampled_centroids(corpus, n=8)
    return ivf_topk(corpus, C, list(probe), k=10, n_probe=3)


# Money/metric sums aggregate EXACT decimals, not doubles (round 6): the
# input columns are exact 2-dp values, so the decimal cast is identical
# in Spark and DuckDB, the sum is order-independent (no float
# accumulation), and the final round can never straddle a boundary that
# depends on partition/summation order. A double sum of 600k lineitems
# at sf0.1 landed on ...28.39995 in one engine and ...28.40005 in the
# other — correct in both, hash-mismatched after round(,4). On a real
# cluster summation order varies run to run, so this also makes the
# aggregates bit-reproducible across partitionings.
def _dsum2(col, prec: int = 18):
    return F.sum(F.col(col).cast(f"decimal({prec},2)")).cast("double")


def _drevenue():
    return F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)"))
    ).cast("double")


def q_pricing_summary(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(_dsum2("l_quantity"), 4).alias("sum_qty"),
            F.round(_dsum2("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(_drevenue(), 4).alias("sum_disc_price"),
            F.round(_dsum2("l_discount", 3) / F.count(F.lit(1)), 6).alias(
                "avg_disc"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_top_revenue(spark, sf):
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(_drevenue(), 4).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


def q_window_order_rank(spark, sf):
    from pyspark.sql import Window

    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("long").alias("order_seq"),
        F.round(
            F.sum("o_totalprice").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
            4,
        ).alias("running_spend"),
    )


def q_events_hourly(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(_dsum2("value", 14), 4).alias("sum_value"),
        )
    )


def q_event_sessions(spark, sf):
    """Gap-based sessionization (the batch form of a streaming session
    window): a new session starts when a user is idle > 30 min; emits
    per-session bounds and aggregates. Pure window functions — lag +
    conditional running sum."""
    from pyspark.sql import Window

    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    # TIMESTAMP_NTZ can't ANSI-cast to long; compare epoch milliseconds
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    gap = ms - F.lag(ms).over(w)
    sess = e.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800 * 1000), 1).otherwise(0)
    ).withColumn(
        "session_seq",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(_dsum2("value", 14), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_seq").cast("long").alias("session_seq"),
            "session_start",
            "session_end",
            "n_events",
            "sum_value",
        )
    )


def q_cc_clusters(spark, sf):
    """Connected components over the doc near-dup graph (jaccard ≥ 0.2
    pairs as edges). Round 3: value-checked against a recursive-CTE
    transitive-closure oracle (components are near-dup-sized, so the
    closure stays small); also covered by tests/test_cluster.py vs a
    DSU oracle. Consumes the shared staged near-dup pair table."""
    from entity_resolution__spark.operators.cluster import (
        assign_clusters,
        connected_components,
    )

    d = _t(spark, sf, "documents")
    edges = _neardup_pairs(spark, sf, n=3, threshold=0.2).select(
        F.col("id_left").cast("string").alias("src"),
        F.col("id_right").cast("string").alias("dst"),
    )
    cc = connected_components(edges)
    nodes = d.select(F.col("doc_id").cast("string").alias("node"))
    return assign_clusters(cc.assignments, nodes).select(
        F.col("conv_id").alias("doc_id"),
        "cluster_id",
        F.col("cluster_size").cast("long").alias("cluster_size"),
    )


def q_cohort_clusters(spark, sf):
    """G2 cohort-seeded transitivity over testdata: strong edges = near-dup
    pairs (shingle jaccard ≥ 0.2) that SHARE the doc `lang` attribute (the
    cohort analog of the reference's shared extracted country — testdata
    text has no country mentions, so the attribute column stands in).
    Per-cohort union-find, then one global dense renumber over sorted
    (cohort, min member)."""
    from entity_resolution__spark.operators.cluster import cohort_transitive_clusters

    d = _t(spark, sf, "documents")
    meta = d.select(F.col("doc_id"), F.col("lang"))
    edges = _neardup_pairs(spark, sf, n=3, threshold=0.2)
    ml = meta.select(F.col("doc_id").alias("id_left"), F.col("lang").alias("lang_l"))
    mr = meta.select(F.col("doc_id").alias("id_right"), F.col("lang").alias("lang_r"))
    seed = (
        edges.join(ml, "id_left")
        .join(mr, "id_right")
        .filter(F.col("lang_l") == F.col("lang_r"))
        .select(
            F.col("id_left").cast("string").alias("u"),
            F.col("id_right").cast("string").alias("v"),
            F.col("lang_l").alias("cohort"),
        )
    )
    return cohort_transitive_clusters(seed).select(
        "node_id",
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
    )


def q_graph_modularity(spark, sf):
    """Weighted Newman modularity of the connected-component labeling
    over the near-dup graph (edge weight = shingle jaccard). Exercises
    the round-4 G7 modularity operator end-to-end with a value check:
    components maximize intra-edges by construction, so Q reduces to
    1 − Σ_c (d_c/2m)² — the DuckDB oracle computes the same sum from
    the recursive-closure labeling. Single-row result."""
    from entity_resolution__spark.operators.cluster import connected_components
    from entity_resolution__spark.operators.graph_export import modularity

    edges = _neardup_pairs(spark, sf, n=3, threshold=0.2).select(
        F.col("id_left").cast("string").alias("src"),
        F.col("id_right").cast("string").alias("dst"),
        F.col("jaccard").alias("weight"),
    )
    cc = connected_components(edges.select("src", "dst"))
    labels = cc.assignments.select(
        F.col("node"), F.col("root").alias("community")
    )
    q = modularity(edges, labels)
    return spark.createDataFrame([(round(q, 6),)], "modularity double")


def q_shipping_priority(spark, sf):
    """TPC-H Q3 shape (shipping priority): filtered customer dim
    BROADCAST into orders, the pruned join keyed on orderkey against
    pre-filtered lineitem, per-order revenue, deterministic top-10.
    The plan the optimizer should pick at 100 TB: both date filters
    reach the parquet scans, the segment-filtered dim broadcasts."""
    cut = F.lit("1998-06-15").cast("timestamp")
    c = (
        _t(spark, sf, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = _t(spark, sf, "orders").filter(F.col("o_orderdate") < cut)
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > cut)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == F.col("c_custkey"))
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(F.round(_drevenue(), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


def q_events_retention(spark, sf):
    """Classic cohort-retention rollup over the events table: users
    grouped by first-seen day, activity counted per day offset — two
    aggregations and one join, all shuffle-keyed on user_id so the
    first-day dimension co-partitions with the activity scan (at 100 TB
    AQE picks the join strategy; no driver-side state)."""
    e = _t(spark, sf, "events").select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    first = e.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        e.join(first, "user_id")
        .withColumn("day_offset", F.datediff("d", "cohort_day").cast("long"))
        .groupBy(
            F.col("cohort_day").cast("string").alias("cohort_day"), "day_offset"
        )
        .agg(F.count_distinct("user_id").cast("long").alias("n_users"))
    )


def q_events_asof(spark, sf):
    """As-of join (round 6): every purchase event picks up the most
    recent click by the same user at-or-before it — the operator Spark
    lacks as a built-in, in its scalable union+window form
    (operators/temporal.asof_join: one shuffle on user_id, ZERO joins,
    single-struct last() so all matched columns come from the same
    click row; tie on ts broken by greatest event_id, which the DuckDB
    LATERAL oracle pins). Nullable longs are coalesced to -1 so the
    value hash never routes through pandas' int→float null widening."""
    from entity_resolution__spark.operators.temporal import asof_join

    e = _t(spark, sf, "events")
    left = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    right = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    return asof_join(
        left, right, on=["user_id"], tiebreak="event_id"
    ).select(
        "user_id",
        "purchase_id",
        us("ts").alias("purchase_us"),
        F.coalesce(F.col("event_id_matched"), F.lit(-1)).alias("click_id"),
        F.coalesce(us("ts") - us("ts_matched"), F.lit(-1)).alias("gap_us"),
        F.coalesce(F.round("value_matched", 4), F.lit(-1.0)).alias("click_value"),
    )


def q_events_window_join(spark, sf):
    """Range (interval) join (round 6): purchase × click pairs by the
    same user with the click inside the 6 h window before the purchase
    (inclusive). operators/temporal.range_join bins time at the window
    span so the match is an equi-join on (user_id, bin) — no cartesian,
    no theta-join; integer-micros comparisons keep boundary inclusion
    bit-exact vs the DuckDB oracle."""
    from entity_resolution__spark.operators.temporal import range_join

    e = _t(spark, sf, "events")
    left = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    right = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    return range_join(
        left, right, on=["user_id"], lower_sec=-21600, upper_sec=0
    ).select(
        "user_id",
        F.col("l_purchase_id").alias("purchase_id"),
        F.col("r_click_id").alias("click_id"),
        (
            F.unix_micros(F.col("l_ts").cast("timestamp"))
            - F.unix_micros(F.col("r_ts").cast("timestamp"))
        ).alias("gap_us"),
    )


def q_events_rollup(spark, sf):
    """Hypertable-style hierarchical rollup (round 6): event counts and
    value sums at (type, day), (type), and grand-total granularities in
    ONE pass — DataFrame rollup() compiles to a single Expand+partial
    aggregate, so the 100 TB plan reads the fact table once and
    map-side-combines all three levels. Rollup nulls are labelled 'ALL'
    (the raw data is never null there, so the label is unambiguous)."""
    e = _t(spark, sf, "events").select(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day"), "value"
    )
    return (
        e.rollup("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(_dsum2("value", 14), 4).alias("sum_value"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("day"), F.lit("ALL")).alias("day"),
            "n_events",
            "sum_value",
        )
    )


def q_chunk_documents(spark, sf):
    """RAG-style overlapping token-window chunking: chunk_tokens=32,
    overlap=8 (stride 24); last chunk short; zero-token docs yield no
    chunks. Pure Catalyst sequence+explode+slice — no shuffle."""
    from entity_resolution__spark.operators.packing import chunk_documents

    return chunk_documents(
        _ts(spark, sf, "documents", "doc_id"), chunk_tokens=32, overlap=8
    )


def q_simhash_neardup(spark, sf):
    """SimHash hamming near-dup pairs (round 5): 64-bit fingerprint cut
    into 4 bands of 16 bits — pigeonhole guarantees EVERY pair within
    hamming ≤ 3 shares ≥1 band, so this is exact within-radius search
    (100% recall), not a probabilistic LSH sample. Band join capped +
    salted; verify = bit_count(xor) pure Catalyst."""
    from entity_resolution__spark.operators.dedup import simhash_neardup_pairs

    return simhash_neardup_pairs(_t(spark, sf, "documents"), max_hamming=3)


def q_louvain_communities(spark, sf):
    """True multi-level Louvain (round-5, closes the G7 gap): weighted
    LPA pre-coarsening distributed, then recursive local-move/contract
    levels on the bounded community graph. Iterative + float-gain-driven
    ⇒ not ANSI-SQL-expressible: no oracle_sql entry, driver records the
    rows-only check; semantics are pinned by pytest (single-node repair
    CNM cannot make, exact Q=11/26 recovery, ring-of-cliques assembly,
    run-stable labels).

    Round 6 (VERDICT #4): the result is Q-CHECKED inside the gate — a
    `q6` column carries the labeling's Newman modularity computed by
    the INDEPENDENT distributed modularity() operator (two joins + one
    aggregate, graph_export.py), rounded to 6. A wrong label partition
    shifts Q, so the rows-only compare now pins a value derived from
    every edge of the graph, not just the row count; pytest
    cross-checks q6 against a pure-python recomputation at sf0.001."""
    from entity_resolution__spark.operators.graph_export import (
        label_propagation_communities,
        louvain_refine,
        modularity,
    )

    edges = _neardup_pairs(spark, sf, n=3, threshold=0.2).select(
        F.col("id_left").cast("string").alias("src"),
        F.col("id_right").cast("string").alias("dst"),
        F.col("jaccard").alias("weight"),
    )
    # the pair table feeds three consumers (LPA, louvain levels, the Q
    # check) — cut the recompute like the shared ER pair table does
    edges = edges.localCheckpoint(eager=False)
    lpa = label_propagation_communities(edges)
    out = louvain_refine(edges, lpa).orderBy("node")
    q6 = round(modularity(edges, out), 6)
    return out.withColumn("q6", F.lit(q6))


def q_pack_sequences(spark, sf):
    """GPT-style concat-and-chunk packing layout over documents:
    per-document (shard, offset, bin_start, bin_end) at seq_len=512.
    Shard = doc_id % 8 here (portable expression so the DuckDB oracle
    reproduces the exact layout; production default is xxhash64)."""
    from entity_resolution__spark.operators.packing import pack_documents

    d = _t(spark, sf, "documents")
    return pack_documents(
        d, seq_len=512, n_shards=8, shard=F.pmod(F.col("doc_id"), F.lit(8))
    ).select(
        "doc_id",
        "shard",
        "n_tokens",
        F.col("offset").cast("long").alias("offset"),
        "bin_start",
        "bin_end",
    )


def q_packing_stats(spark, sf):
    from entity_resolution__spark.operators.packing import (
        pack_documents,
        packing_stats,
    )

    d = _t(spark, sf, "documents")
    packed = pack_documents(
        d, seq_len=512, n_shards=8, shard=F.pmod(F.col("doc_id"), F.lit(8))
    )
    return packing_stats(packed, seq_len=512)


def q_clean_corpus(spark, sf):
    """Composite training-data materialization in one declarative plan:
    quality floor (≥10 tokens) → exact dedup (keep min doc_id per
    md5(text)) → near-dup drop (a doc dominated as the GREATER side of
    any shingle-jaccard≥0.2 pair is removed — deterministic, keeps each
    near-dup chain's minimum). All joins are keyed semi/anti joins off
    the shared staged near-dup table; at 100 TB this is the exact
    clean-corpus pass a pretraining pipeline runs nightly."""
    from entity_resolution__spark.operators.dedup import exact_dedup

    d = _t(spark, sf, "documents")
    toks = _toks(F.col("text"))
    keep_exact = exact_dedup(d).select(F.col("keep_id").alias("doc_id"))
    nd_dropped = (
        _neardup_pairs(spark, sf, n=3, threshold=0.2)
        .select(F.col("id_right").alias("doc_id"))
        .distinct()
    )
    return (
        d.join(keep_exact, "doc_id", "left_semi")
        .join(nd_dropped, "doc_id", "left_anti")
        .filter(F.size(toks) >= 10)
        .select("doc_id", F.size(toks).cast("long").alias("n_tokens"))
    )


def q_token_budget_mix(spark, sf):
    """Pretraining data-mixing sampler over documents: per-lang token
    budgets (en 20k, de 8k, fr 5k), docs taken in id order until each
    group's budget is crossed (boundary doc kept — budgets are floors).
    Langs without a budget contribute nothing.

    Computed through the TWO-PHASE shard-prefix branch (range_shard =
    doc_id // 64, monotone in doc_id) — the scale path that bounds every
    window partition to one shard (round-4 VERDICT #4: the oracle gate
    previously exercised only the single-window path; the sharded form
    is identical by prefix decomposition, so the same DuckDB SQL checks
    it hash-exactly)."""
    from entity_resolution__spark.operators.packing import token_budget_sample

    d = _t(spark, sf, "documents")
    return token_budget_sample(
        d,
        budgets={"en": 20_000, "de": 8_000, "fr": 5_000},
        range_shard=F.floor(F.col("doc_id") / 64),
    )


def q_pii_scrub(spark, sf):
    """Corpus-hygiene pass: redact emails / IPv4s / phone-shaped digit
    runs with typed placeholders, count hits per category. Patterns are
    the Java-regex ∩ RE2 common subset so the DuckDB oracle replays the
    identical composition (email → ip → phone order is semantic: the
    phone pattern would otherwise eat dotted IPs)."""
    from entity_resolution__spark.operators.scrub import pii_scrub

    return pii_scrub(_ts(spark, sf, "documents", "doc_id").select("doc_id", "text"))


def q_hash_sample(spark, sf):
    """Deterministic per-lang stratified sample: keep a doc iff its
    md5-derived bucket < rate·10000. Engine-portable and re-derivable
    bit-identically (no RNG, no partition-order dependence) — the
    reproducibility property sampleBy's seeded per-partition RNG lacks."""
    from entity_resolution__spark.operators.scrub import hash_stratified_sample

    d = _t(spark, sf, "documents").select("doc_id", "lang")
    return hash_stratified_sample(
        d, rates={"en": 0.25, "de": 0.5, "fr": 0.1}
    )


def q_ngram_stats(spark, sf):
    """Top-40 corpus bigrams by document frequency (distinct within doc,
    robust to spammy repetition): explode → count → deterministic top-k
    (ties broken textually)."""
    from entity_resolution__spark.operators.scrub import ngram_stats

    return ngram_stats(_ts(spark, sf, "documents", "doc_id"), n=2, k=40)


def q_repetition_stats(spark, sf):
    """Gopher-style per-doc repetition signals: duplicate-token
    fraction, the most frequent bigram's share of the bigram stream,
    duplicate-bigram fraction. Explode → (doc, gram) partial agg →
    doc agg; token stats fused into the scan."""
    from entity_resolution__spark.operators.scrub import repetition_stats

    return repetition_stats(_ts(spark, sf, "documents", "doc_id"), n=2)


def q_quality_gate(spark, sf):
    """RefinedWeb-style rule-cascade filter: length / stopword / punct
    signals × repetition signals → (keep, reasons-CSV). Reasons are in
    fixed rule-table order so the string hashes identically."""
    from entity_resolution__spark.operators.scrub import quality_gate

    return quality_gate(_ts(spark, sf, "documents", "doc_id"))


def q_contamination(spark, sf):
    """Benchmark decontamination: the eval split = docs whose md5
    bucket(doc_id)%100 < 5 (deterministic, engine-portable); every
    other doc is flagged iff it shares ≥1 distinct word 4-gram with any
    eval doc. Eval shingle set is broadcast — corpus side never
    shuffles for the join."""
    from entity_resolution__spark.operators.scrub import (
        decontaminate,
        hash_bucket,
    )

    docs = _ts(spark, sf, "documents", "doc_id")
    bk = hash_bucket(F.col("doc_id"), 100)
    return decontaminate(
        docs.filter(bk >= 5), docs.filter(bk < 5), n=4, min_hits=1
    )


def q_kmv_distinct(spark, sf):
    """Per-lang distinct-trigram cardinality: exact count next to the
    KMV bottom-k (k=64) sketch estimate. The sketch is md5-ordered —
    no RNG, no engine-specific register layout — so the ESTIMATE itself
    is bit-reproducible and hash-checked against DuckDB running the
    identical sketch."""
    from entity_resolution__spark.operators.dedup import ngram_shingles
    from entity_resolution__spark.operators.scrub import kmv_distinct

    grams = _ts(spark, sf, "documents", "doc_id").select(
        "lang", F.explode(ngram_shingles(F.col("text"), 3)).alias("value")
    )
    km = kmv_distinct(grams, value_col="value", group_col="lang", k=64)
    exact = grams.groupBy("lang").agg(
        F.countDistinct("value").alias("n_distinct_exact")
    )
    return km.join(exact, "lang")


def q_event_funnel(spark, sf):
    """Ordered 3-step funnel view → click → purchase (round 6), first-
    touch strictly-after semantics (operators/funnel.py), scoped to the
    stream's first two days — the short window is what differentiates
    depth (92/41/21 users at sf0.01; over the full month every user
    completes everything and the funnel is vacuous). Every groupBy/join
    keys on user_id — k co-partitioned exchanges at 100 TB; per-user
    state is one timestamp per step regardless of event count."""
    from entity_resolution__spark.operators.funnel import funnel_counts

    ev = _t(spark, sf, "events").filter(
        F.col("ts") < F.lit("2024-01-03 00:00:00").cast("timestamp")
    )
    return funnel_counts(ev, ["view", "click", "purchase"])


def q_weighted_sample(spark, sf):
    """Sequential Poisson (PPS) sampling (round 6): the 20 docs per
    lang with the smallest priority xi = md5-uniform(doc_id) / n_chars
    — deterministic weighted corpus subsampling (Ohlsson 1998). xi is
    one exact division of an md5-derived dyadic rational, so DuckDB
    reproduces the doubles bit-for-bit; rank ties break on doc_id."""
    from entity_resolution__spark.operators.scrub import (
        sequential_poisson_sample,
    )

    out = sequential_poisson_sample(
        _t(spark, sf, "documents"), k=20, weight_col="n_chars",
        group_col="lang",
    )
    return out.select("doc_id", "lang", "n_chars", "xi")


def q_length_quantiles(spark, sf):
    """EXACT per-lang length quantiles (round 6): type-1 empirical
    quantile at ranks ceil(p·n) for p in {.25,.5,.75,.9,.99} — the
    corpus-QA numbers that must mean the same thing on every engine,
    vs approx_percentile's merge-order-dependent t-digest. One window
    sort per lang + a broadcast probs dim (operators/textstats.py)."""
    from entity_resolution__spark.operators.textstats import group_quantiles

    return group_quantiles(_t(spark, sf, "documents"), "n_chars", "lang")


def q_substring_neardup(spark, sf):
    """EXACT shared-substring duplication pairs (round 6): doc pairs
    sharing ≥1 verbatim 8-token window, with the distinct-window count
    as span evidence — the token-granular exact-substring dedup of Lee
    et al. 2022 that document-level MinHash misses. 100%-recall
    inverted index: explode md5'd windows → the shared capped/salted
    self-join (saltjoin.py) → one pair-keyed count; stopword-grade
    windows (bucket > 4096) dropped on BOTH engines."""
    from entity_resolution__spark.operators.dedup import shared_window_pairs

    return shared_window_pairs(_t(spark, sf, "documents"), window=8)


def q_graph_pagerank(spark, sf):
    """Weighted PageRank (round 6) over the blocked token-jaccard
    similarity graph (positive-weight edges of pair_token_jaccard,
    symmetrized): 5 fixed power iterations at d=0.85 from the uniform
    vector — fixed so the result is a deterministic graph function the
    oracle replays by unrolling the same 5 iterations in SQL. Per
    iteration: ONE join that shuffles only the rank vector (the share
    table is staged+partitioned by src) + ONE partial-agg groupBy —
    the 2-exchange Pregel loop in Catalyst (operators/graph_algos.py)."""
    from entity_resolution__spark.operators.graph_algos import (
        pagerank,
        symmetrize,
    )

    edges = (
        q_pair_token_jaccard(spark, sf)
        .filter(F.col("token_jaccard") > 0)
        .select(
            F.col("id_left").alias("src"),
            F.col("id_right").alias("dst"),
            F.col("token_jaccard").alias("weight"),
        )
    )
    pr = pagerank(symmetrize(edges), damping=0.85, iterations=5)
    return pr.select("node", F.round("rank", 6).alias("pr6"))


def q_graph_triangles(spark, sf):
    """Per-node triangle counts (round 6) over the candidate-pair
    blocking graph — "how clique-like is this block" as a first-class
    graph metric. Degree-ordered edge orientation (Latapy 2008 compact-
    forward): each triangle materializes exactly once and the wedge
    join's fan-out is O(sqrt(m))-bounded, which is what keeps the self-
    join feasible on power-law block graphs at 100 TB
    (operators/graph_algos.py)."""
    from entity_resolution__spark.operators.graph_algos import triangle_count

    edges = q_candidate_pairs(spark, sf).select(
        F.col("id_left").alias("src"), F.col("id_right").alias("dst")
    )
    return triangle_count(edges)


def q_kmeans_embed(spark, sf):
    """Deterministic distributed k-means (round 6): k=10 Lloyd's over
    the 64-d embeddings, 3 fixed iterations from the md5-hash-sampled
    init (same no-RNG seed rule as ivf_topk) — the embedding-curation
    clustering SemDeDup-style pipelines need. Assignment is MAP-ONLY
    (k·d centroid literals in the plan, no join); the update is one
    posexplode partial-agg avg + a k·d-row collect. The oracle unrolls
    the same 3 iterations as chained DuckDB CTEs; empty clusters keep
    their centroid on both engines."""
    from entity_resolution__spark.operators.similarity import kmeans

    return kmeans(_t(spark, sf, "embeddings"), k=10, iterations=3)


def q_regional_revenue(spark, sf):
    """TPC-H Q5 analog (round 6): 1995 revenue per ASIA nation where
    customer and supplier share the nation — the 6-table join shape
    (two facts + four dims) the SQL family lacked. Plan posture: the
    o_orderdate year filter and the r_name filter sit on the scans
    (pushdown), nation⋈region is explicitly broadcast (guaranteed-tiny
    dim even at 100 TB), the lineitem⋈orders fact-fact join keys on
    orderkey, and AQE picks broadcast vs shuffle for supplier/customer
    by observed size rather than a hardcoded hint. Revenue aggregates
    as exact decimals (order-independent across partitionings)."""
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = (
        _t(spark, sf, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    c = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = (
        _t(spark, sf, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    nat = F.broadcast(
        n.join(r, n["n_regionkey"] == r["r_regionkey"]).select(
            "n_nationkey", "n_name"
        )
    )
    cust = c.join(nat, c["c_nationkey"] == nat["n_nationkey"]).select(
        "c_custkey", "c_nationkey", "n_name"
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(
            cust,
            (o["o_custkey"] == cust["c_custkey"])
            & (s["s_nationkey"] == cust["c_nationkey"]),
        )
        .groupBy("n_name")
        .agg(F.round(_drevenue(), 4).alias("revenue"))
    )


def q_events_pivot(spark, sf):
    """Cross-tab / pivot (round 6): daily event counts pivoted into one
    column per event type — DataFrame `pivot()` with an EXPLICIT value
    list, which compiles to a single partial-aggregated hash aggregate
    (no second pass to discover the pivot domain, and deterministic
    column order — both essential at 100 TB)."""
    e = _t(spark, sf, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
    )
    types = ["click", "view", "purchase", "signup", "error"]
    out = (
        e.groupBy("day")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types]
    )


def q_decayed_counts(spark, sf):
    """Exponentially-decayed per-user engagement score (round 6): the
    recency-weighted feature a training pipeline derives from an event
    log — score(u) = Σ_events 2^(−Δdays/half_life) as of the stream's
    max ts (data-derived, so the query is reproducible, no wall clock).
    ONE aggregate keyed on user_id: the decay weight is computed per
    row from integer microsecond deltas (exact on both engines) and
    partial-aggregated map-side; no window, no state."""
    e = _t(spark, sf, "events")
    # exact integer micros for the anchor (a float .timestamp() round
    # trip could be 1 us off vs the oracle's epoch_us)
    tmax_us = F.lit(
        e.agg(
            F.max(F.unix_micros(F.col("ts").cast("timestamp")))
        ).collect()[0][0]
    ).cast("long")
    dt_days = (
        (tmax_us - F.unix_micros(F.col("ts").cast("timestamp"))).cast("double")
        / F.lit(86_400_000_000.0)
    )
    half_life = 7.0
    w = F.pow(F.lit(2.0), -dt_days / F.lit(half_life))
    return (
        e.groupBy("user_id")
        .agg(
            F.round(F.sum(w), 6).alias("decayed_score"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def q_graph_kcore(spark, sf):
    """3-core of the SimHash near-dup graph (round 6): the density
    screen separating tight dup communities from hairballs of weak
    links. Iterative peel with a UNIQUE, order-independent fixpoint —
    so although the loop is not ANSI-expressible in general, peeling is
    IDEMPOTENT once converged, and the oracle simply unrolls 10 rounds
    (measured depth: 3 at sf0.01 AND sf0.1; extra rounds are no-ops),
    making this iterative operator hash-exact rather than rows-only."""
    from entity_resolution__spark.operators.graph_algos import k_core

    edges = q_simhash_neardup(spark, sf).select(
        F.col("id_left").alias("src"), F.col("id_right").alias("dst")
    )
    return k_core(edges, k=3)


def q_corpus_curation(spark, sf):
    """Composed curation funnel (round 6): the training-data operators
    chained the way a real corpus pipeline runs them — per doc (corpus
    split only, md5 bucket ≥ 5): quality_gate keep × exact-dedup
    canonical (min doc_id per md5(text)) × not-contaminated (shares no
    distinct word 4-gram with the bucket<5 eval split) → final kept
    flag. One row per corpus doc with every stage flag, so the funnel
    is auditable (which stage killed a doc), not just a filtered count.
    Each stage keeps its own scale shape (cascaded narrow projections;
    dedup keyed on digest; eval shingles broadcast)."""
    from entity_resolution__spark.operators.dedup import exact_dedup
    from entity_resolution__spark.operators.scrub import (
        decontaminate,
        hash_bucket,
        quality_gate,
    )

    docs = _ts(spark, sf, "documents", "doc_id")
    bk = hash_bucket(F.col("doc_id"), 100)
    corpus = docs.filter(bk >= 5)
    qg = quality_gate(docs).select("doc_id", F.col("keep").alias("q_keep"))
    keep_ids = exact_dedup(docs).select(
        F.col("keep_id").alias("doc_id"), F.lit(True).alias("is_canonical")
    )
    cont = decontaminate(corpus, docs.filter(bk < 5), n=4, min_hits=1).select(
        "doc_id", "contaminated"
    )
    out = (
        corpus.select("doc_id")
        .join(qg, "doc_id")
        .join(keep_ids, "doc_id", "left")
        .join(cont, "doc_id")
        .select(
            "doc_id",
            "q_keep",
            F.coalesce(F.col("is_canonical"), F.lit(False)).alias(
                "is_canonical"
            ),
            "contaminated",
        )
    )
    return out.withColumn(
        "kept",
        F.col("q_keep") & F.col("is_canonical") & ~F.col("contaminated"),
    )


def q_kmeans_f1(spark, sf):
    """Pairwise-F1 clustering evaluation WITHOUT pair materialization
    (round 6) — the north-rule acceptance metric (pairwise F1 vs
    reference clusters) as a distributed operator: every pairwise count
    is a binomial sum over the cluster×label contingency table, so the
    evaluation is three count-shuffles + a 1-row reduce — computable at
    10¹² turns where explicit pair sets are unbuildable. Here it scores
    the deterministic k-means assignment against the embeddings' true
    blob labels (exact counts ⇒ exact rational P/R/F1, hash-exact)."""
    from entity_resolution__spark.operators.evaluate import (
        pairwise_cluster_metrics,
    )
    from entity_resolution__spark.operators.similarity import kmeans

    emb = _t(spark, sf, "embeddings")
    pred = kmeans(emb, k=10, iterations=3).select(
        F.col("vec_id").alias("node"), "cluster"
    )
    truth = emb.select(F.col("vec_id").alias("node"), "label")
    return pairwise_cluster_metrics(pred, truth)


def q_unigram_logprob(spark, sf):
    """Per-doc unigram NLL under the corpus's own LM (round 6) — the
    CCNet-perplexity-style distributional quality signal next to the
    rule-based quality_gate. tf aggregates per (doc, token) BEFORE the
    token-keyed count join (the Zipf head is AQE-splittable); T is one
    1-row aggregate."""
    from entity_resolution__spark.operators.textstats import unigram_logprob

    return unigram_logprob(_ts(spark, sf, "documents", "doc_id"))


def q_table_profile(spark, sf):
    """ANALYZE-TABLE-style column profile of orders (round 6): rows /
    nulls / EXACT distinct per column in one logical scan (expanded
    multi-distinct aggregate), reshaped driver-side from a single
    K-value row — reproducible profiling (HLL registers are engine-
    specific; exact counts hash-match any engine)."""
    from entity_resolution__spark.operators.profile import profile_table

    # spread: the expanded multi-distinct aggregate multiplies every row
    # by 2k+1 branches inside the scan stage — serial on a single-row-
    # group file without the exchange
    return profile_table(_ts(spark, sf, "orders", "o_orderkey"))


def q_exact_jaccard_pairs(spark, sf):
    """EXACT trigram-Jaccard near-dup pairs (round 6): prefix-filtering
    AllPairs/PPJoin — 100% recall by the prefix theorem (docs ordered
    by global shingle rarity; a J≥t pair must collide inside both
    prefixes), vs the MinHash path's probabilistic ≥95%. The prefix
    join keys on each doc's RAREST shingles (naturally small buckets),
    triangle-salted but UNCAPPED — exactness is never traded for skew.
    At sf0.01 it returns the same 25 pairs the LSH path found,
    proving that path's 100% empirical recall here."""
    from entity_resolution__spark.operators.dedup import exact_jaccard_join

    return exact_jaccard_join(_t(spark, sf, "documents"), n=3, threshold=0.2)


def q_bm25_topk(spark, sf):
    """Okapi BM25 top-15 retrieval (round 6) for the 4-term query
    "spark window merge join" over the documents table — ranked corpus
    slicing, the IR op the text family lacked. Per-doc work ∝ query-
    term HITS (token list filtered against the tiny literal vocabulary
    BEFORE the explode); df/N/avgdl are K-row aggregates; the top-k is
    orderBy+limit (distributed TakeOrdered), never a global sort.
    Scores round to 6 BEFORE ranking (the ivf/knn rule) so the
    selected set is engine-stable; ties break on doc_id."""
    from entity_resolution__spark.operators.textstats import bm25_rank

    return bm25_rank(_ts(spark, sf, "documents", "doc_id"), "spark window merge join", k=15)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "tokenize_stats": q_tokenize_stats,
        "block_keys": q_block_keys,
        "candidate_pairs": q_candidate_pairs,
        "pair_token_jaccard": q_pair_token_jaccard,
        "exact_dedup": q_exact_dedup,
        "minhash_signature": q_minhash_signature,
        "ngram_neardup_pairs": q_ngram_neardup_pairs,
        "acronyms": q_acronyms,
        "minhash_buckets": q_minhash_buckets,
        "lang_quality": q_lang_quality,
        "token_counts": q_token_counts,
        "doc_fingerprint": q_doc_fingerprint,
        "simhash": q_simhash,
        "embedding_topk": q_embedding_topk,
        "knn_join": q_knn_join,
        "embedding_neardup": q_embedding_neardup,
        "semantic_dedup": q_semantic_dedup,
        "ivf_topk": q_ivf_topk,
        "pricing_summary": q_pricing_summary,
        "top_revenue": q_top_revenue,
        "window_order_rank": q_window_order_rank,
        "events_hourly": q_events_hourly,
        "event_sessions": q_event_sessions,
        "cc_clusters": q_cc_clusters,
        "cohort_clusters": q_cohort_clusters,
        "graph_modularity": q_graph_modularity,
        "pack_sequences": q_pack_sequences,
        "packing_stats": q_packing_stats,
        "clean_corpus": q_clean_corpus,
        "token_budget_mix": q_token_budget_mix,
        "pii_scrub": q_pii_scrub,
        "hash_sample": q_hash_sample,
        "ngram_stats": q_ngram_stats,
        "shipping_priority": q_shipping_priority,
        "events_retention": q_events_retention,
        "events_asof": q_events_asof,
        "events_window_join": q_events_window_join,
        "events_rollup": q_events_rollup,
        "chunk_documents": q_chunk_documents,
        "simhash_neardup": q_simhash_neardup,
        "louvain_communities": q_louvain_communities,
        "repetition_stats": q_repetition_stats,
        "quality_gate": q_quality_gate,
        "contamination": q_contamination,
        "kmv_distinct": q_kmv_distinct,
        "event_funnel": q_event_funnel,
        "weighted_sample": q_weighted_sample,
        "length_quantiles": q_length_quantiles,
        "substring_neardup": q_substring_neardup,
        "graph_pagerank": q_graph_pagerank,
        "graph_triangles": q_graph_triangles,
        "kmeans_embed": q_kmeans_embed,
        "bm25_topk": q_bm25_topk,
        "regional_revenue": q_regional_revenue,
        "exact_jaccard_pairs": q_exact_jaccard_pairs,
        "unigram_logprob": q_unigram_logprob,
        "table_profile": q_table_profile,
        "kmeans_f1": q_kmeans_f1,
        "corpus_curation": q_corpus_curation,
        "graph_kcore": q_graph_kcore,
        "events_pivot": q_events_pivot,
        "decayed_counts": q_decayed_counts,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles (same column names; floats rounded identically)
# ---------------------------------------------------------------------------

_TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+')"

# Shared WITH-body reassembling the md5-based 64-bit SimHash per hex
# digit (each md5 hex char carries 4 bits; per-(doc, char) conditional
# sums + a majority nibble rebuild the exact hex the numpy kernel
# packs). Ends with sh(doc_id, simhash); used by the `simhash` and
# `simhash_neardup` oracles.
_SIMHASH_CTE = f"""t AS (
              SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents
            ), nn AS (
              SELECT doc_id, len(toks) AS n_tok FROM t
            ), u AS (
              SELECT doc_id, unnest(toks) AS tok FROM t
            ), hx AS (
              SELECT doc_id, substring(md5(tok), 1, 16) AS h FROM u
            ), ch AS (
              SELECT doc_id, i,
                     strpos('0123456789abcdef', substring(h, i, 1)) - 1 AS hv
              FROM hx CROSS JOIN (SELECT unnest(range(1, 17)) AS i) idx
            ), votes AS (
              SELECT doc_id, i,
                     sum(CASE WHEN hv & 1 > 0 THEN 1 ELSE 0 END) AS c0,
                     sum(CASE WHEN hv & 2 > 0 THEN 1 ELSE 0 END) AS c1,
                     sum(CASE WHEN hv & 4 > 0 THEN 1 ELSE 0 END) AS c2,
                     sum(CASE WHEN hv & 8 > 0 THEN 1 ELSE 0 END) AS c3
              FROM ch GROUP BY 1, 2
            ), nib AS (
              SELECT v.doc_id, v.i,
                     (CASE WHEN 2 * c0 >= n_tok THEN 1 ELSE 0 END
                    + CASE WHEN 2 * c1 >= n_tok THEN 2 ELSE 0 END
                    + CASE WHEN 2 * c2 >= n_tok THEN 4 ELSE 0 END
                    + CASE WHEN 2 * c3 >= n_tok THEN 8 ELSE 0 END) AS val
              FROM votes v JOIN nn USING (doc_id)
            ), s AS (
              SELECT doc_id,
                     string_agg(substring('0123456789abcdef', val + 1, 1),
                                '' ORDER BY i) AS simhash
              FROM nib GROUP BY doc_id
            ), sh AS (
              SELECT d.doc_id, coalesce(s.simhash, '0000000000000000') AS simhash
              FROM documents d LEFT JOIN s USING (doc_id)
            )"""


def _shingle_edges_cte(threshold: float = 0.2, n: int = 3) -> str:
    """WITH-clause body (d … edges) reproducing ngram_jaccard_pairs'
    ADAPTIVE MinHash-LSH candidate scheme in DuckDB (same lsh_scheme as
    the Spark operator — round 2's oracle hard-coded the 4×2 bands, so
    scheme changes silently desynced; now both sides derive it from the
    threshold). Round 4: also mirrors the per-(band, bucket) size cap
    (NGRAM_MAX_BUCKET) — hot-bucket dropping is part of the operator's
    semantics, so the oracle applies the identical rule (salting is
    plan-only and needs no mirror: the triangle join emits the same
    pair set). edges = (id_left, id_right, jaccard ≥ threshold)."""
    from entity_resolution__spark.operators.dedup import (
        NGRAM_MAX_BUCKET,
        lsh_scheme,
    )

    n_bands, band_size = lsh_scheme(threshold)
    n_hashes = n_bands * band_size
    mh = ",\n                ".join(
        f"list_min(list_transform(sh, t -> md5('{s}:' || t))) AS mh_{s}"
        for s in range(n_hashes)
    )
    band_rows = []
    for b in range(n_bands):
        parts = [f"mh_{s}" for s in range(b * band_size, (b + 1) * band_size)]
        expr = parts[0] if len(parts) == 1 else "concat(" + ", '|', ".join(parts) + ")"
        band_rows.append(
            f"SELECT doc_id, {b} AS band, md5({expr}) AS bucket FROM sig"
        )
    bands = "\n              UNION ALL\n              ".join(band_rows)
    w = n - 1
    jac = (
        "round(len(list_intersect(a.sh, b.sh))::DOUBLE"
        " / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE, 6)"
    )
    return f"""d AS (
              SELECT doc_id, {_TOKS} AS toks FROM documents
            ), sh AS (
              -- shingles carried as 12-hex md5 prefixes (same injective
              -- mapping as the Spark operator; jaccard is unchanged)
              SELECT doc_id,
                     CASE WHEN len(toks) >= {n} THEN
                       list_distinct(list_transform(
                         list_transform(
                           range(1, len(toks) - {w} + 1),
                           i -> array_to_string(toks[i:i+{w}], ' ')
                         ),
                         s -> substring(md5(s), 1, 12)
                       ))
                     ELSE [] END AS sh
              FROM d
            ), shf AS (
              SELECT * FROM sh WHERE len(sh) > 0
            ), sig AS (
              SELECT doc_id,
                {mh}
              FROM shf
            ), bands AS (
              {bands}
            ), sized AS (
              -- per-(band, bucket) size; buckets over the cap are
              -- stopword-grade band keys and are dropped on BOTH sides
              SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz
              FROM bands
            ), cand AS (
              SELECT DISTINCT l.doc_id AS id_left, r.doc_id AS id_right
              FROM sized l JOIN sized r
                ON l.band = r.band AND l.bucket = r.bucket
               AND l.doc_id < r.doc_id
              WHERE l.bsz <= {NGRAM_MAX_BUCKET}
            ), edges AS (
              SELECT id_left, id_right, {jac} AS jaccard
              FROM cand
              JOIN shf a ON a.doc_id = id_left
              JOIN shf b ON b.doc_id = id_right
              WHERE {jac} >= {threshold}
            )"""


def oracle_sql() -> dict[str, str]:
    shingle_cte = _shingle_edges_cte(threshold=0.2, n=3)
    # graph_pagerank: 5 power iterations unrolled as chained CTEs —
    # same update rule as operators/graph_algos.pagerank (symmetric
    # graph ⇒ no dangling mass term); weights are the round-6 jaccards
    # so both engines iterate from identical doubles
    _pr_iters, _pr_damp = 5, 0.85
    _pr_parts = [
        f"""pd AS (SELECT doc_id, {_TOKS}[1] AS bk,
                          list_sort(list_distinct({_TOKS})) AS ts
                   FROM documents WHERE len({_TOKS}) > 0),
            pedges AS (
              SELECT DISTINCT l.doc_id AS id_left, r.doc_id AS id_right,
                     round(CASE
                       WHEN len(l.ts)=0 AND len(r.ts)=0 THEN 1.0
                       WHEN len(l.ts)=0 OR len(r.ts)=0 THEN 0.0
                       ELSE len(list_intersect(l.ts, r.ts))::DOUBLE
                            / len(list_distinct(list_concat(l.ts, r.ts)))::DOUBLE
                     END, 6) AS jaccard
              FROM pd l JOIN pd r ON l.bk = r.bk AND l.doc_id < r.doc_id),
            sym AS (
              SELECT id_left AS src, id_right AS dst, jaccard AS w
              FROM pedges WHERE jaccard > 0
              UNION ALL
              SELECT id_right AS src, id_left AS dst, jaccard AS w
              FROM pedges WHERE jaccard > 0),
            pnodes AS (SELECT DISTINCT src AS node FROM sym),
            pn AS (SELECT count(*)::DOUBLE AS n FROM pnodes),
            outw AS (SELECT src, sum(w) AS ow FROM sym GROUP BY 1),
            shares AS (SELECT s.src, s.dst, s.w / o.ow AS share
                       FROM sym s JOIN outw o USING (src)),
            pr0 AS (SELECT node, 1.0 / (SELECT n FROM pn) AS r FROM pnodes)"""
    ]
    for _i in range(1, _pr_iters + 1):
        _pr_parts.append(
            f"""pr{_i} AS (
              SELECT nd.node,
                     (1.0 - {_pr_damp}) / (SELECT n FROM pn)
                     + {_pr_damp} * coalesce(inf.x, 0.0) AS r
              FROM pnodes nd LEFT JOIN (
                SELECT sh.dst AS node, sum(sh.share * p.r) AS x
                FROM shares sh JOIN pr{_i - 1} p ON p.node = sh.src
                GROUP BY 1) inf USING (node))"""
        )
    pagerank_cte = ",\n".join(_pr_parts)
    # kmeans_embed: 3 Lloyd's iterations unrolled as chained CTEs —
    # same init (md5-smallest ids, cluster index in ascending-id
    # order), same argmin tie rule (lowest cid), same empty-cluster
    # retention as operators/similarity.kmeans. 64 = embedding dim.
    _km_iters, _km_k, _km_d = 3, 10, 64
    _km_parts = [
        f"""v AS (SELECT vec_id,
                         list_transform(embedding, x -> x::DOUBLE) AS e
                  FROM embeddings),
            seeds AS (SELECT vec_id, e FROM v
                      ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC,
                               vec_id ASC
                      LIMIT {_km_k}),
            c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1
                            AS cid, e AS cv
                   FROM seeds)"""
    ]
    for _i in range(_km_iters + 1):
        _km_parts.append(
            f"""a{_i} AS (
              SELECT * FROM (
                SELECT v.vec_id, v.e, c.cid,
                       list_sum(list_transform(range(1, {_km_d + 1}),
                         j -> (v.e[j] - c.cv[j]) * (v.e[j] - c.cv[j])))
                         AS d
                FROM v CROSS JOIN c{_i} c)
              QUALIFY row_number() OVER (
                PARTITION BY vec_id ORDER BY d ASC, cid ASC) = 1)"""
        )
        if _i == _km_iters:
            break
        _km_parts.append(
            f"""m{_i} AS (
              SELECT cid, array_agg(mv ORDER BY j) AS cv FROM (
                SELECT cid, j, avg(e[j]) AS mv
                FROM a{_i}, range(1, {_km_d + 1}) t(j)
                GROUP BY 1, 2)
              GROUP BY cid),
            c{_i + 1} AS (
              SELECT c.cid, coalesce(m.cv, c.cv) AS cv
              FROM c{_i} c LEFT JOIN m{_i} m USING (cid))"""
        )
    kmeans_cte = ",\n".join(_km_parts)
    # graph_kcore: the simhash near-dup band join (same SQL as the
    # simhash_neardup oracle) feeding a 10-round unrolled peel —
    # peeling is idempotent at the fixpoint, so 10 ≥ the measured
    # depth (3 at sf0.01 and sf0.1) reproduces the unique 3-core
    _kc_rounds, _kc_k = 10, 3
    _kc_parts = [
        f"""{_SIMHASH_CTE}, ub AS (
              SELECT doc_id, simhash,
                     ('0x' || simhash)::UBIGINT AS s
              FROM sh
            ), bands AS (
              SELECT doc_id, s, i,
                     substring(simhash, 1 + 4 * i, 4) AS bv
              FROM ub CROSS JOIN (SELECT unnest(range(0, 4)) AS i) bi
            ), sized AS (
              SELECT *, count(*) OVER (PARTITION BY i, bv) AS bsz
              FROM bands
            ), keepb AS (
              SELECT * FROM sized WHERE bsz <= 4096
            ), cand AS (
              SELECT DISTINCT l.doc_id AS id_left, r.doc_id AS id_right,
                              l.s AS sl, r.s AS sr
              FROM keepb l
              JOIN keepb r ON l.i = r.i AND l.bv = r.bv
                          AND l.doc_id < r.doc_id
            ), e0 AS MATERIALIZED (
              SELECT id_left AS u, id_right AS v FROM cand
              WHERE bit_count(xor(sl, sr)) <= 3
            )"""
    ]
    for _i in range(_kc_rounds + 1):
        _kc_parts.append(
            f"""d{_i} AS MATERIALIZED (
              SELECT node, count(*) AS degree FROM (
                SELECT u AS node FROM e{_i}
                UNION ALL SELECT v AS node FROM e{_i}) t
              GROUP BY 1)"""
        )
        if _i == _kc_rounds:
            break
        _kc_parts.append(
            f"""g{_i} AS MATERIALIZED (
              SELECT node FROM d{_i} WHERE degree >= {_kc_k}),
            e{_i + 1} AS MATERIALIZED (
              SELECT u, v FROM e{_i}
              WHERE u IN (SELECT node FROM g{_i})
                AND v IN (SELECT node FROM g{_i}))"""
        )
    kcore_cte = ",\n".join(_kc_parts)
    return {
        "tokenize_stats": f"""
            SELECT doc_id,
                   len({_TOKS}) AS n_tokens,
                   len(list_distinct({_TOKS})) AS n_distinct_tokens
            FROM documents
        """,
        "block_keys": f"""
            SELECT {_TOKS}[1] AS block_key, count(*) AS n_docs
            FROM documents
            WHERE len({_TOKS}) > 0
            GROUP BY 1
        """,
        "candidate_pairs": f"""
            WITH d AS (SELECT doc_id, {_TOKS}[1] AS bk FROM documents
                       WHERE len({_TOKS}) > 0)
            SELECT DISTINCT l.doc_id AS id_left, r.doc_id AS id_right
            FROM d l JOIN d r ON l.bk = r.bk AND l.doc_id < r.doc_id
        """,
        "pair_token_jaccard": f"""
            WITH d AS (SELECT doc_id, {_TOKS}[1] AS bk,
                              list_sort(list_distinct({_TOKS})) AS ts
                       FROM documents WHERE len({_TOKS}) > 0)
            SELECT DISTINCT l.doc_id AS id_left, r.doc_id AS id_right,
                   round(CASE
                     WHEN len(l.ts)=0 AND len(r.ts)=0 THEN 1.0
                     WHEN len(l.ts)=0 OR len(r.ts)=0 THEN 0.0
                     ELSE len(list_intersect(l.ts, r.ts))::DOUBLE
                          / len(list_distinct(list_concat(l.ts, r.ts)))::DOUBLE
                   END, 6) AS token_jaccard
            FROM d l JOIN d r ON l.bk = r.bk AND l.doc_id < r.doc_id
        """,
        "exact_dedup": """
            SELECT md5(text) AS digest, min(doc_id) AS keep_id,
                   count(*) AS n_copies
            FROM documents GROUP BY 1
        """,
        "minhash_signature": f"""
            SELECT doc_id,
                   list_min(list_transform(list_distinct({_TOKS}), t -> md5('0:' || t))) AS mh_0,
                   list_min(list_transform(list_distinct({_TOKS}), t -> md5('1:' || t))) AS mh_1,
                   list_min(list_transform(list_distinct({_TOKS}), t -> md5('2:' || t))) AS mh_2,
                   list_min(list_transform(list_distinct({_TOKS}), t -> md5('3:' || t))) AS mh_3
            FROM documents
        """,
        # candidates = MinHash-LSH bands over the shingle sets; band
        # scheme derived from the threshold by the SAME lsh_scheme the
        # Spark operator uses — deterministic (md5), so the oracle
        # reproduces the exact candidate set the Spark plan joins
        "ngram_neardup_pairs": f"""
            WITH {shingle_cte}
            SELECT id_left, id_right, jaccard FROM edges
        """,
        "acronyms": r"""
            WITH corpus AS (
              SELECT text FROM documents
              UNION ALL
              SELECT o_orderpriority AS text FROM orders
            ), a AS (
              SELECT unnest(list_distinct(list_transform(
                       list_filter(
                         list_transform(
                           regexp_extract_all(text, '[A-Z0-9&\-]{2,}'),
                           x -> regexp_replace(x, '[^A-Za-z0-9]', '', 'g')),
                         x -> len(x) >= 2 AND regexp_matches(x, '[A-Z]')),
                       x -> lower(x)))) AS acronym
              FROM corpus
            )
            SELECT acronym, count(*) AS n_docs FROM a GROUP BY 1
        """,
        "minhash_buckets": f"""
            WITH sig AS (
              SELECT doc_id,
                list_min(list_transform(list_distinct({_TOKS}), t -> md5('0:' || t))) AS mh_0,
                list_min(list_transform(list_distinct({_TOKS}), t -> md5('1:' || t))) AS mh_1,
                list_min(list_transform(list_distinct({_TOKS}), t -> md5('2:' || t))) AS mh_2,
                list_min(list_transform(list_distinct({_TOKS}), t -> md5('3:' || t))) AS mh_3
              FROM documents
            ), b AS (
              SELECT doc_id, 0 AS band, md5(concat(mh_0, '|', mh_1)) AS bucket FROM sig
              UNION ALL
              SELECT doc_id, 1 AS band, md5(concat(mh_2, '|', mh_3)) AS bucket FROM sig
            )
            SELECT band, bucket, count(*) AS n_docs, min(doc_id) AS keep_id
            FROM b GROUP BY 1, 2 HAVING count(*) > 1
        """,
        "lang_quality": f"""
            WITH t AS (
              SELECT doc_id, text, {_TOKS} AS toks,
                     len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
                     length(text) AS chars
              FROM documents
            ), hits AS (
              SELECT *,
                len(list_intersect(list_distinct(toks),
                  ['the','and','of','to','in','is','that','it','for','was'])) AS h_en,
                len(list_intersect(list_distinct(toks),
                  ['der','die','und','das','ist','nicht','ein','mit','auf','den'])) AS h_de,
                len(list_intersect(list_distinct(toks),
                  ['le','la','et','les','des','est','une','dans','que','pour'])) AS h_fr,
                len(list_intersect(list_distinct(toks),
                  ['el','la','de','que','los','una','por','con','para','las'])) AS h_es,
                len(list_filter(toks, x -> list_contains(
                  ['the','and','of','to','in','is','that','it','for','was'], x))) AS n_stop
              FROM t
            )
            SELECT doc_id,
                   CASE WHEN greatest(h_en,h_de,h_fr,h_es) = 0 THEN 'und'
                        WHEN h_en = greatest(h_en,h_de,h_fr,h_es) THEN 'en'
                        WHEN h_de = greatest(h_en,h_de,h_fr,h_es) THEN 'de'
                        WHEN h_fr = greatest(h_en,h_de,h_fr,h_es) THEN 'fr'
                        ELSE 'es' END AS lang_pred,
                   len(toks) AS q_tokens,
                   round(chars::DOUBLE / greatest(len(toks), 1), 6) AS q_chars_per_token,
                   round(n_stop::DOUBLE / greatest(len(toks), 1), 6) AS q_stopword_ratio,
                   round(n_punct::DOUBLE / greatest(chars, 1), 6) AS q_punct_ratio
            FROM hits
        """,
        "token_counts": r"""
            SELECT doc_id,
                   len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
                   len(regexp_extract_all(text,
                       '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS bpe_tokens
            FROM documents
        """,
        "doc_fingerprint": f"""
            SELECT doc_id, md5(array_to_string({_TOKS}, ' ')) AS fp
            FROM documents
        """,
        # cosines computed in DOUBLE on both sides (Spark casts float32
        # elements to double before multiplying) so rounding to 6 matches
        "embedding_topk": """
            WITH probe AS (SELECT embedding::DOUBLE[] AS p FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_dot_product(embedding::DOUBLE[], p)
                         / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                            * sqrt(list_dot_product(p, p))), 6) AS cos_sim
            FROM embeddings, probe
            WHERE vec_id <> 0
            ORDER BY cos_sim DESC, vec_id ASC
            LIMIT 20
        """,
        "knn_join": """
            WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec
                       FROM embeddings WHERE vec_id < 3),
            scored AS (
              SELECT q.qid, e.vec_id,
                     round(list_dot_product(e.embedding::DOUBLE[], q.qvec)
                           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                              * sqrt(list_dot_product(q.qvec, q.qvec))), 6) AS cos_sim
              FROM embeddings e CROSS JOIN q
              WHERE e.vec_id >= 3
            ), ranked AS (
              SELECT *, row_number() OVER
                (PARTITION BY qid ORDER BY cos_sim DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT qid, vec_id, cos_sim, rank FROM ranked WHERE rank <= 5
        """,
        "embedding_neardup": """
            WITH b0 AS (
              SELECT vec_id, embedding,
                list_aggregate(list_transform(embedding[1:8],
                  x -> CASE WHEN x > 0 THEN '1' ELSE '0' END),
                  'string_agg', '') AS bucket
              FROM embeddings
            ), b AS (
              -- mirror the operator's per-bucket size cap (buckets over
              -- 4096 members are dropped before the self-join)
              SELECT * FROM (
                SELECT *, count(*) OVER (PARTITION BY bucket) AS bsz
                FROM b0
              ) WHERE bsz <= 4096
            )
            SELECT l.vec_id AS id_left, r.vec_id AS id_right,
                   round(list_dot_product(l.embedding::DOUBLE[], r.embedding::DOUBLE[])
                     / (sqrt(list_dot_product(l.embedding::DOUBLE[], l.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(r.embedding::DOUBLE[], r.embedding::DOUBLE[]))),
                     6) AS cos_sim
            FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
            -- threshold on the ROUNDED value, same as the Spark filter
            WHERE round(list_dot_product(l.embedding::DOUBLE[], r.embedding::DOUBLE[])
                  / (sqrt(list_dot_product(l.embedding::DOUBLE[], l.embedding::DOUBLE[]))
                     * sqrt(list_dot_product(r.embedding::DOUBLE[], r.embedding::DOUBLE[]))),
                  6) >= 0.25
            ORDER BY 1, 2
        """,
        # semantic_dedup (round 6): the embedding_neardup pair relation
        # as a CTE, transitive closure by recursive CTE (components are
        # near-dup-sized so the closure stays small), rep = min int id —
        # label-free output so the hash pins structure, not labels
        "semantic_dedup": """
            WITH RECURSIVE b0 AS (
              SELECT vec_id, embedding,
                list_aggregate(list_transform(embedding[1:8],
                  x -> CASE WHEN x > 0 THEN '1' ELSE '0' END),
                  'string_agg', '') AS bucket
              FROM embeddings
            ), b AS (
              SELECT * FROM (
                SELECT *, count(*) OVER (PARTITION BY bucket) AS bsz
                FROM b0
              ) WHERE bsz <= 4096
            ), cand AS (
              SELECT l.vec_id AS id_left, r.vec_id AS id_right
              FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
              WHERE round(list_dot_product(l.embedding::DOUBLE[], r.embedding::DOUBLE[])
                    / (sqrt(list_dot_product(l.embedding::DOUBLE[], l.embedding::DOUBLE[]))
                       * sqrt(list_dot_product(r.embedding::DOUBLE[], r.embedding::DOUBLE[]))),
                    6) >= 0.25
            ), sym AS (
              SELECT id_left AS u, id_right AS v FROM cand
              UNION
              SELECT id_right AS u, id_left AS v FROM cand
            ), reach (a, c) AS (
              SELECT u, v FROM sym
              UNION
              SELECT r.a, s.v FROM reach r JOIN sym s ON r.c = s.u
            ), comp AS (
              SELECT n.vec_id,
                     least(n.vec_id, coalesce(min(r.c), n.vec_id)) AS rep_id
              FROM (SELECT vec_id FROM embeddings) n
              LEFT JOIN reach r ON r.a = n.vec_id
              GROUP BY n.vec_id
            )
            SELECT vec_id, rep_id,
                   count(*) OVER (PARTITION BY rep_id) AS cluster_size,
                   (CASE WHEN vec_id = rep_id THEN 1 ELSE 0 END)::INTEGER AS kept
            FROM comp
        """,
        # full IVF in SQL: same hash-deterministic centroid pick, same
        # round-6 dot-then-divide cosine, same lowest-list-id tie-breaks
        "ivf_topk": """
            WITH corpus AS (
              SELECT vec_id, embedding::DOUBLE[] AS v
              FROM embeddings WHERE vec_id <> 0
            ),
            cent AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS list_id, v AS c
              FROM (SELECT vec_id, v FROM corpus
                    ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
                    LIMIT 8)
            ),
            probe AS (SELECT embedding::DOUBLE[] AS p FROM embeddings WHERE vec_id = 0),
            assigned AS (
              SELECT vec_id, v, list_id FROM (
                SELECT co.vec_id, co.v, ce.list_id,
                       row_number() OVER (
                         PARTITION BY co.vec_id
                         ORDER BY round(list_dot_product(co.v, ce.c)
                             / (sqrt(list_dot_product(co.v, co.v))
                                * sqrt(list_dot_product(ce.c, ce.c))), 6) DESC,
                           ce.list_id ASC) AS rn
                FROM corpus co CROSS JOIN cent ce
              ) WHERE rn = 1
            ),
            plists AS (
              SELECT list_id FROM (
                SELECT ce.list_id,
                       row_number() OVER (
                         ORDER BY round(list_dot_product(ce.c, p)
                             / (sqrt(list_dot_product(ce.c, ce.c))
                                * sqrt(list_dot_product(p, p))), 6) DESC,
                           ce.list_id ASC) AS rn
                FROM cent ce CROSS JOIN probe
              ) WHERE rn <= 3
            )
            SELECT a.vec_id,
                   round(list_dot_product(a.v, p)
                       / (sqrt(list_dot_product(a.v, a.v))
                          * sqrt(list_dot_product(p, p))), 6) AS cos_sim
            FROM assigned a JOIN plists USING (list_id) CROSS JOIN probe
            ORDER BY cos_sim DESC, a.vec_id ASC
            LIMIT 10
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round((sum(l_quantity::DECIMAL(18,2)))::DOUBLE, 4) AS sum_qty,
                   round((sum(l_extendedprice::DECIMAL(18,2)))::DOUBLE, 4) AS sum_base_price,
                   round((sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount::DECIMAL(3,2))))::DOUBLE, 4) AS sum_disc_price,
                   round((sum(l_discount::DECIMAL(3,2)))::DOUBLE / count(*), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_revenue": """
            SELECT c_mktsegment,
                   round((sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount::DECIMAL(3,2))))::DOUBLE, 4) AS revenue,
                   count(DISTINCT o_orderkey) AS n_orders
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "window_order_rank": """
            SELECT o_custkey, o_orderkey,
                   row_number() OVER w AS order_seq,
                   round(sum(o_totalprice) OVER
                     (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS UNBOUNDED PRECEDING), 4) AS running_spend
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n_events,
                   round((sum(value::DECIMAL(14,2)))::DOUBLE, 4) AS sum_value
            FROM events
            GROUP BY 1, 2
        """,
        "event_sessions": """
            WITH g AS (
              SELECT user_id, event_id, ts, value,
                     epoch_ms(ts) - lag(epoch_ms(ts)) OVER w AS gap
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
              SELECT *, sum(CASE WHEN gap IS NULL OR gap > 1800 * 1000 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_seq
              FROM g
            )
            SELECT user_id, session_seq::BIGINT AS session_seq,
                   min(ts) AS session_start, max(ts) AS session_end,
                   count(*) AS n_events, round((sum(value::DECIMAL(14,2)))::DOUBLE, 4) AS sum_value
            FROM s GROUP BY 1, 2
        """,
        # cohort transitivity: per-cohort CC is expressible as a recursive
        # transitive closure (components are tiny near-dup groups, so the
        # closure stays linear-ish); renumber = row_number over sorted
        # (cohort, min member) — same rule as the Spark operator
        "cohort_clusters": f"""
            WITH RECURSIVE {shingle_cte}, seed AS (
              SELECT ml.lang AS cohort,
                     e.id_left::VARCHAR AS u, e.id_right::VARCHAR AS v
              FROM edges e
              JOIN documents ml ON ml.doc_id = e.id_left
              JOIN documents mr ON mr.doc_id = e.id_right
              WHERE ml.lang = mr.lang
            ), sym AS (
              SELECT cohort, u, v FROM seed
              UNION
              SELECT cohort, v AS u, u AS v FROM seed
            ), nodes AS (
              SELECT DISTINCT cohort, u AS node FROM sym
            ), reach (cohort, a, b) AS (
              SELECT cohort, u, v FROM sym
              UNION
              SELECT r.cohort, r.a, s.v
              FROM reach r JOIN sym s ON r.cohort = s.cohort AND r.b = s.u
            ), roots AS (
              SELECT n.cohort, n.node, least(n.node, min(r.b)) AS root
              FROM nodes n
              JOIN reach r ON r.cohort = n.cohort AND r.a = n.node
              GROUP BY n.cohort, n.node
            ), ids AS (
              SELECT cohort, root,
                     row_number() OVER (ORDER BY cohort, root) - 1 AS cluster_id
              FROM (SELECT DISTINCT cohort, root FROM roots)
            )
            SELECT r.node AS node_id, i.cluster_id,
                   count(*) OVER (PARTITION BY i.cluster_id) AS cluster_size
            FROM roots r JOIN ids i ON i.cohort = r.cohort AND i.root = r.root
        """,
        # cc_clusters (round 3; was rows-only): transitive closure over
        # the near-dup edges via recursive CTE — components are near-dup-
        # sized so the closure stays linear-ish; singletons via LEFT JOIN
        # from all documents; dense ids by sorted min-member root (same
        # rule as assign_clusters/_dense_ids)
        "cc_clusters": f"""
            WITH RECURSIVE {shingle_cte}, sym AS (
              SELECT id_left::VARCHAR AS u, id_right::VARCHAR AS v FROM edges
              UNION
              SELECT id_right::VARCHAR AS u, id_left::VARCHAR AS v FROM edges
            ), reach (a, b) AS (
              SELECT u, v FROM sym
              UNION
              SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u
            ), allnodes AS (
              SELECT doc_id::VARCHAR AS node FROM documents
            ), roots AS (
              SELECT n.node, least(n.node, coalesce(min(r.b), n.node)) AS root
              FROM allnodes n LEFT JOIN reach r ON r.a = n.node
              GROUP BY n.node
            ), ids AS (
              SELECT root, row_number() OVER (ORDER BY root) - 1 AS cluster_id
              FROM (SELECT DISTINCT root FROM roots)
            )
            SELECT r.node AS doc_id, i.cluster_id,
                   count(*) OVER (PARTITION BY i.cluster_id) AS cluster_size
            FROM roots r JOIN ids i USING (root)
        """,
        # graph_modularity (round 4): weighted Newman Q of the CC
        # labeling over the near-dup graph — same closure as cc_clusters
        # (edge nodes only), Q = Σ_c [in_c/2m − (d_c/2m)²] with edge
        # weight = shingle jaccard, rounded to 6 after the full sum
        "graph_modularity": f"""
            WITH RECURSIVE {shingle_cte}, sym AS (
              SELECT id_left::VARCHAR AS u, id_right::VARCHAR AS v FROM edges
              UNION
              SELECT id_right::VARCHAR AS u, id_left::VARCHAR AS v FROM edges
            ), reach (a, b) AS (
              SELECT u, v FROM sym
              UNION
              SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u
            ), roots AS (
              SELECT a AS node, least(a, min(b)) AS root
              FROM reach GROUP BY a
            ), ew AS (
              SELECT id_left::VARCHAR AS u, id_right::VARCHAR AS v,
                     jaccard AS w
              FROM edges
            ), tot AS (SELECT sum(w) AS m FROM ew),
            intra AS (
              SELECT ru.root AS c, 2.0 * sum(w) AS in_c
              FROM ew
              JOIN roots ru ON ru.node = ew.u
              JOIN roots rv ON rv.node = ew.v
              WHERE ru.root = rv.root
              GROUP BY 1
            ), deg AS (
              SELECT r.root AS c, sum(t.w) AS d_c
              FROM (
                SELECT u AS node, w FROM ew
                UNION ALL
                SELECT v AS node, w FROM ew
              ) t
              JOIN roots r ON r.node = t.node
              GROUP BY 1
            )
            SELECT round(sum(coalesce(in_c, 0) / (2 * m)
                             - (d_c / (2 * m)) * (d_c / (2 * m))), 6)
                   AS modularity
            FROM deg LEFT JOIN intra USING (c) CROSS JOIN tot
        """,
        # clean_corpus (round 4): the composite quality -> exact-dedup ->
        # near-dup pass; near-dup drop rule = remove any doc appearing
        # as the GREATER side of a jaccard>=0.2 pair (same edges CTE)
        "clean_corpus": f"""
            WITH {shingle_cte}, keepex AS (
              SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
            ), nd AS (
              SELECT DISTINCT id_right AS doc_id FROM edges
            ), toks AS (
              SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents
            )
            SELECT t.doc_id, t.n_tokens::BIGINT AS n_tokens
            FROM toks t
            JOIN keepex USING (doc_id)
            LEFT JOIN nd ON nd.doc_id = t.doc_id
            WHERE nd.doc_id IS NULL AND t.n_tokens >= 10
        """,
        # token_budget_mix (round 4): per-lang running token sum, keep
        # while the total BEFORE the doc is under the lang's budget
        "token_budget_mix": r"""
            WITH t AS (
              SELECT doc_id, lang,
                     len(regexp_extract_all(text,
                         '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))::BIGINT AS n_tokens,
                     CASE lang WHEN 'en' THEN 20000 WHEN 'de' THEN 8000
                               WHEN 'fr' THEN 5000 ELSE 0 END AS budget
              FROM documents
            ), c AS (
              SELECT doc_id, lang, n_tokens, budget,
                     sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING) AS cum_tokens
              FROM t
            )
            SELECT doc_id, lang, n_tokens, cum_tokens::BIGINT AS cum_tokens
            FROM c WHERE cum_tokens - n_tokens < budget
        """,
        # pack_sequences / packing_stats (round 4): concat-and-chunk
        # packing layout — running token sum per shard (ORDER BY doc_id)
        # sliced into seq_len=512 windows; shard = doc_id % 8 on both
        # sides so the layout is engine-reproducible
        "pack_sequences": r"""
            WITH t AS (
              SELECT doc_id, doc_id % 8 AS shard,
                     len(regexp_extract_all(text,
                         '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_tokens
              FROM documents
            ), c AS (
              SELECT doc_id, shard, n_tokens,
                     sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING) AS cum
              FROM t
            )
            SELECT doc_id, shard, n_tokens::BIGINT AS n_tokens,
                   (cum - n_tokens)::BIGINT AS "offset",
                   floor((cum - n_tokens) / 512)::BIGINT AS bin_start,
                   CASE WHEN n_tokens > 0
                        THEN floor((cum - 1) / 512)::BIGINT
                        ELSE floor((cum - n_tokens) / 512)::BIGINT
                   END AS bin_end
            FROM c
        """,
        "packing_stats": r"""
            WITH t AS (
              SELECT doc_id, doc_id % 8 AS shard,
                     len(regexp_extract_all(text,
                         '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_tokens
              FROM documents
            ), s AS (
              SELECT shard, count(*) AS n_docs,
                     sum(n_tokens)::BIGINT AS total_tokens,
                     ceil(sum(n_tokens) / 512.0)::BIGINT AS n_windows
              FROM t GROUP BY shard
            )
            SELECT shard, n_docs, total_tokens, n_windows,
                   round(total_tokens / (n_windows * 512)::DOUBLE, 6)
                     AS fill_ratio
            FROM s
        """,
        # simhash (round 3; was rows-only): see _SIMHASH_CTE
        "simhash": f"""
            WITH {_SIMHASH_CTE}
            SELECT doc_id, simhash FROM sh
        """,
        # shipping_priority (round 5): TPC-H Q3 shape, deterministic
        # top-10 (revenue DESC, orderdate, orderkey)
        "shipping_priority": r"""
            SELECT l.l_orderkey,
                   strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S')
                     AS o_orderdate,
                   o.o_orderpriority,
                   round((sum(l.l_extendedprice::DECIMAL(18,2)
                     * (1 - l.l_discount::DECIMAL(3,2))))::DOUBLE, 4)
                     AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment = 'BUILDING'
              AND o.o_orderdate < TIMESTAMP '1998-06-15'
              AND l.l_shipdate > TIMESTAMP '1998-06-15'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, o_orderdate, l_orderkey
            LIMIT 10
        """,
        # events_retention (round 5): first-seen-day cohorts × day
        # offsets, distinct-user counts
        "events_retention": r"""
            WITH e AS (
              SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
            ), f AS (
              SELECT user_id, min(d) AS cohort_day FROM e GROUP BY user_id
            )
            SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
                   date_diff('day', f.cohort_day, e.d)::BIGINT AS day_offset,
                   count(DISTINCT e.user_id)::BIGINT AS n_users
            FROM e JOIN f USING (user_id)
            GROUP BY 1, 2
        """,
        # events_asof (round 6): LATERAL top-1 pins the exact as-of
        # semantics incl. the (ts DESC, event_id DESC) tie-break the
        # Spark window encodes via (_t, _side, _tb) ordering
        "events_asof": r"""
            WITH p AS (
              SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS us
              FROM events WHERE event_type = 'purchase'
            ), c AS (
              SELECT user_id, event_id, epoch_us(ts) AS us, value
              FROM events WHERE event_type = 'click'
            )
            SELECT p.user_id, p.purchase_id, p.us AS purchase_us,
                   coalesce(m.event_id, -1) AS click_id,
                   coalesce(p.us - m.us, -1) AS gap_us,
                   coalesce(round(m.value, 4), -1.0) AS click_value
            FROM p LEFT JOIN LATERAL (
              SELECT c.event_id, c.us, c.value FROM c
              WHERE c.user_id = p.user_id AND c.us <= p.us
              ORDER BY c.us DESC, c.event_id DESC LIMIT 1
            ) m ON true
        """,
        # events_window_join (round 6): the binned equi-join plan must
        # emit exactly the inequality-join relation
        "events_window_join": r"""
            WITH p AS (
              SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS us
              FROM events WHERE event_type = 'purchase'
            ), c AS (
              SELECT user_id, event_id AS click_id, epoch_us(ts) AS us
              FROM events WHERE event_type = 'click'
            )
            SELECT p.user_id, p.purchase_id, c.click_id,
                   p.us - c.us AS gap_us
            FROM p JOIN c ON p.user_id = c.user_id
             AND c.us >= p.us - 21600000000 AND c.us <= p.us
        """,
        # events_rollup (round 6): GROUP BY ROLLUP mirrors DataFrame
        # rollup(); 'ALL' labels the rollup nulls on both engines
        "events_rollup": r"""
            SELECT coalesce(event_type, 'ALL') AS event_type,
                   coalesce(day, 'ALL') AS day,
                   count(*)::BIGINT AS n_events,
                   round((sum(value::DECIMAL(14,2)))::DOUBLE, 4) AS sum_value
            FROM (
              SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, value
              FROM events
            )
            GROUP BY ROLLUP (event_type, day)
        """,
        # chunk_documents (round 5): same stride arithmetic on the
        # DuckDB side — n_chunks = (max(n-32,0) + 23) // 24 + 1 for
        # n > 0; list slice clamps at the end on both engines
        "chunk_documents": f"""
            WITH t AS (
              SELECT doc_id, {_TOKS} AS l FROM documents
            ), c AS (
              SELECT doc_id, l,
                     CASE WHEN len(l) = 0 THEN 0
                          ELSE (greatest(len(l) - 32, 0) + 23) // 24 + 1
                     END AS k
              FROM t
            ), e AS (
              SELECT doc_id, l, i AS chunk_id
              FROM c, unnest(range(0, k)) AS u(i)
            )
            SELECT doc_id, chunk_id::BIGINT AS chunk_id,
                   len(l[chunk_id * 24 + 1 : chunk_id * 24 + 32])::BIGINT
                     AS n_chunk_tokens,
                   array_to_string(l[chunk_id * 24 + 1 : chunk_id * 24 + 32],
                                   ' ') AS chunk_text
            FROM e
        """,
        # simhash_neardup (round 5): 4 bands × 4 hex chars (pigeonhole:
        # hamming ≤ 3 ⇒ ≥1 equal band), per-(band, value) bucket cap
        # mirrored, hamming via bit_count(xor) on the UBIGINT parse of
        # the same hex
        "simhash_neardup": f"""
            WITH {_SIMHASH_CTE}, ub AS (
              SELECT doc_id, simhash,
                     ('0x' || simhash)::UBIGINT AS s
              FROM sh
            ), bands AS (
              SELECT doc_id, s, i,
                     substring(simhash, 1 + 4 * i, 4) AS bv
              FROM ub CROSS JOIN (SELECT unnest(range(0, 4)) AS i) bi
            ), sized AS (
              SELECT *, count(*) OVER (PARTITION BY i, bv) AS bsz
              FROM bands
            ), keep AS (
              SELECT * FROM sized WHERE bsz <= 4096
            ), cand AS (
              SELECT DISTINCT l.doc_id AS id_left, r.doc_id AS id_right,
                              l.s AS sl, r.s AS sr
              FROM keep l
              JOIN keep r ON l.i = r.i AND l.bv = r.bv
                         AND l.doc_id < r.doc_id
            )
            SELECT id_left, id_right,
                   bit_count(xor(sl, sr))::BIGINT AS hamming
            FROM cand
            WHERE bit_count(xor(sl, sr)) <= 3
        """,
        # pii_scrub (round 5): identical regex composition, RE2 side —
        # email -> ip -> phone; counts for email/ip on the original
        # text, phones counted after email+ip redaction
        "pii_scrub": r"""
            WITH t AS (
              SELECT doc_id, coalesce(text, '') AS text,
                     regexp_replace(coalesce(text, ''),
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS after_email
              FROM documents
            ), t2 AS (
              SELECT doc_id,
                     regexp_replace(after_email,
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                       '<IP>', 'g') AS after_ip,
                     len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'
                     ))::BIGINT AS n_emails,
                     len(regexp_extract_all(text,
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'
                     ))::BIGINT AS n_ips
              FROM t
            )
            SELECT doc_id,
                   regexp_replace(after_ip, '\+?\d[\d .()-]{7,}\d',
                                  '<PHONE>', 'g') AS text,
                   n_emails, n_ips,
                   len(regexp_extract_all(after_ip, '\+?\d[\d .()-]{7,}\d'
                   ))::BIGINT AS n_phones
            FROM t2
        """,
        # hash_sample (round 5): md5-hex bucket, same first-8-hex-digit
        # base-16 parse as Spark's conv(substring(md5(...),1,8),16,10)
        "hash_sample": r"""
            WITH b AS (
              SELECT doc_id, lang,
                     (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                      )::BIGINT % 10000) AS bucket
              FROM documents
            )
            SELECT doc_id, lang, bucket
            FROM b
            WHERE bucket < CASE lang WHEN 'en' THEN 2500
                                     WHEN 'de' THEN 5000
                                     WHEN 'fr' THEN 1000
                                     ELSE 0 END
        """,
        # ngram_stats (round 5): per-doc DISTINCT bigrams (document
        # frequency), deterministic top-40 (count DESC, ngram ASC)
        "ngram_stats": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS l FROM documents
            ), grams AS (
              SELECT DISTINCT doc_id, g
              FROM toks,
                   unnest(list_transform(range(1, len(l) - 2 + 2),
                          i -> array_to_string(l[i:i+1], ' '))) AS u(g)
              WHERE len(l) >= 2
            )
            SELECT g AS ngram, count(*)::BIGINT AS n_docs
            FROM grams GROUP BY g
            ORDER BY n_docs DESC, ngram
            LIMIT 40
        """,
        # repetition_stats (round 6): positional (non-distinct) bigram
        # stream per doc; mode share + duplicate fractions, 6 dp
        "repetition_stats": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS l FROM documents
            ), base AS (
              SELECT doc_id, len(l)::BIGINT AS n_tokens,
                     round(CASE WHEN len(l) = 0 THEN 0.0
                       ELSE 1.0 - len(list_distinct(l))::DOUBLE / len(l)
                     END, 6) AS dup_token_frac
              FROM toks
            ), grams AS (
              SELECT doc_id, g
              FROM toks,
                   unnest(list_transform(range(1, len(l) - 2 + 2),
                          i -> array_to_string(l[i:i+1], ' '))) AS u(g)
              WHERE len(l) >= 2
            ), gc AS (
              SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2
            ), ga AS (
              SELECT doc_id, sum(c) AS total, max(c) AS top,
                     count(*) AS nd
              FROM gc GROUP BY 1
            )
            SELECT b.doc_id, b.n_tokens, b.dup_token_frac,
                   round(coalesce(ga.top::DOUBLE / ga.total, 0.0), 6)
                     AS top_ngram_frac,
                   round(coalesce(1.0 - ga.nd::DOUBLE / ga.total, 0.0), 6)
                     AS dup_ngram_frac
            FROM base b LEFT JOIN ga USING (doc_id)
        """,
        # quality_gate (round 6): identical signal expressions as
        # lang_quality/repetition_stats, identical rounded thresholds,
        # reasons CSV in the same fixed rule order
        "quality_gate": f"""
            WITH t AS (
              SELECT doc_id, {_TOKS} AS l,
                     len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
                     length(text) AS chars
              FROM documents
            ), sig AS (
              SELECT doc_id, len(l) AS q_tokens,
                     round(len(list_filter(l, x -> list_contains(
                       ['the','and','of','to','in','is','that','it','for','was'], x)
                     ))::DOUBLE / greatest(len(l), 1), 6) AS q_stopword_ratio,
                     round(n_punct::DOUBLE / greatest(chars, 1), 6) AS q_punct_ratio
              FROM t
            ), grams AS (
              SELECT doc_id, g
              FROM t,
                   unnest(list_transform(range(1, len(l) - 2 + 2),
                          i -> array_to_string(l[i:i+1], ' '))) AS u(g)
              WHERE len(l) >= 2
            ), gc AS (
              SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2
            ), ga AS (
              SELECT doc_id, sum(c) AS total, max(c) AS top, count(*) AS nd
              FROM gc GROUP BY 1
            ), rep AS (
              SELECT s.doc_id, s.q_tokens, s.q_stopword_ratio, s.q_punct_ratio,
                     round(coalesce(ga.top::DOUBLE / ga.total, 0.0), 6)
                       AS top_ngram_frac,
                     round(coalesce(1.0 - ga.nd::DOUBLE / ga.total, 0.0), 6)
                       AS dup_ngram_frac
              FROM sig s LEFT JOIN ga USING (doc_id)
            ), gated AS (
              SELECT doc_id, concat_ws(',',
                CASE WHEN q_tokens < 10 THEN 'too_short' END,
                CASE WHEN q_tokens > 5000 THEN 'too_long' END,
                CASE WHEN q_stopword_ratio < 0.01 THEN 'low_stopword' END,
                CASE WHEN q_punct_ratio > 0.30 THEN 'high_punct' END,
                CASE WHEN top_ngram_frac > 0.10 THEN 'top_ngram_heavy' END,
                CASE WHEN dup_ngram_frac > 0.09 THEN 'dup_ngram_heavy' END
              ) AS reasons FROM rep
            )
            SELECT doc_id, reasons = '' AS keep, reasons FROM gated
        """,
        # contamination (round 6): eval split by the same md5 bucket as
        # hash_sample; distinct word 4-grams; ≥1 shared shingle flags
        "contamination": f"""
            WITH b AS (
              SELECT doc_id, {_TOKS} AS l,
                     (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                      )::BIGINT % 100) AS bk
              FROM documents
            ), ev AS (
              SELECT DISTINCT g
              FROM b,
                   unnest(list_transform(range(1, len(l) - 4 + 2),
                          i -> array_to_string(l[i:i+3], ' '))) AS u(g)
              WHERE bk < 5 AND len(l) >= 4
            ), cg AS (
              SELECT DISTINCT doc_id, g
              FROM b,
                   unnest(list_transform(range(1, len(l) - 4 + 2),
                          i -> array_to_string(l[i:i+3], ' '))) AS u(g)
              WHERE bk >= 5 AND len(l) >= 4
            ), hits AS (
              SELECT doc_id, count(*) AS n FROM cg JOIN ev USING (g)
              GROUP BY 1
            )
            SELECT c.doc_id,
                   coalesce(h.n, 0)::BIGINT AS n_eval_ngrams,
                   coalesce(h.n, 0) >= 1 AS contaminated
            FROM (SELECT doc_id FROM b WHERE bk >= 5) c
            LEFT JOIN hits h USING (doc_id)
        """,
        # kmv_distinct (round 6): the sketch itself is deterministic
        # (bottom-64 md5 hashes of the distinct per-lang trigram sets),
        # so DuckDB replays the ESTIMATE bit-exactly, not just the
        # exact count. 1152921504606846976 = 16^15 (the 15-hex-digit
        # coordinate scale).
        "kmv_distinct": f"""
            WITH toks AS (
              SELECT doc_id, lang, {_TOKS} AS l FROM documents
            ), grams AS (
              SELECT DISTINCT lang, g
              FROM toks,
                   unnest(list_transform(range(1, len(l) - 3 + 2),
                          i -> array_to_string(l[i:i+2], ' '))) AS u(g)
              WHERE len(l) >= 3
            ), h AS (
              SELECT lang, md5(g) AS h FROM grams
            ), rk AS (
              SELECT lang, h,
                     row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
              FROM h
            ), bot AS (
              SELECT lang, count(*)::BIGINT AS k_used, max(h) AS kth
              FROM rk WHERE rn <= 64 GROUP BY lang
            ), est AS (
              SELECT lang, k_used,
                     ('0x' || substr(kth, 1, 15))::BIGINT::DOUBLE
                       / 1152921504606846976.0 AS frac
              FROM bot
            ), ex AS (
              SELECT lang, count(*)::BIGINT AS n_distinct_exact
              FROM grams GROUP BY lang
            )
            SELECT e.lang, e.k_used, round(e.frac, 9) AS kmv_frac,
                   round(CASE WHEN e.k_used < 64 THEN e.k_used::DOUBLE
                              ELSE 63.0 / e.frac END, 6) AS n_distinct_est,
                   ex.n_distinct_exact
            FROM est e JOIN ex USING (lang)
        """,
        # event_funnel (round 6): per-step strictly-after first-touch
        # min, then a depth histogram against the tiny step dim; the
        # 2-day scope is what differentiates depth at sf0.01
        "event_funnel": """
            WITH ev AS (
              SELECT user_id, event_type, ts FROM events
              WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
            ), s1 AS (
              SELECT user_id, min(ts) AS t1 FROM ev
              WHERE event_type = 'view' GROUP BY 1
            ), s2 AS (
              SELECT s1.user_id, any_value(s1.t1) AS t1,
                     min(CASE WHEN e.ts > s1.t1 THEN e.ts END) AS t2
              FROM s1 LEFT JOIN ev e
                ON e.user_id = s1.user_id AND e.event_type = 'click'
              GROUP BY 1
            ), s3 AS (
              SELECT s2.user_id,
                     min(CASE WHEN e.ts > s2.t2 THEN e.ts END) AS t3
              FROM s2 LEFT JOIN ev e
                ON e.user_id = s2.user_id AND e.event_type = 'purchase'
              GROUP BY 1
            ), depth AS (
              SELECT s2.user_id,
                     1 + CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END
                       + CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END AS d
              FROM s2 JOIN s3 USING (user_id)
            ), steps(step, step_name) AS (
              VALUES (1, 'view'), (2, 'click'), (3, 'purchase')
            ), counts AS (
              SELECT s.step, s.step_name,
                     count(d.user_id)::BIGINT AS n_users
              FROM steps s LEFT JOIN depth d ON d.d >= s.step
              GROUP BY 1, 2
            )
            SELECT step, step_name, n_users,
                   round(CASE WHEN max(n_users) OVER () > 0
                         THEN n_users::DOUBLE / max(n_users) OVER ()
                         ELSE 0.0 END, 6) AS conversion
            FROM counts
        """,
        # weighted_sample (round 6): xi = md5-dyadic-uniform / weight is
        # ONE exact hex parse + ONE IEEE division on both engines, so
        # the priority doubles (and therefore the top-20 per lang) are
        # bit-identical. 1152921504606846976 = 2^60 = 16^15.
        "weighted_sample": """
            WITH k AS (
              SELECT doc_id, lang, n_chars,
                     (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                      )::BIGINT::DOUBLE / 1152921504606846976.0)
                     / n_chars::DOUBLE AS xi
              FROM documents WHERE n_chars > 0
            ), r AS (
              SELECT *, row_number() OVER (
                PARTITION BY lang ORDER BY xi ASC, doc_id ASC) AS rk
              FROM k
            )
            SELECT doc_id, lang, n_chars, xi FROM r WHERE rk <= 20
        """,
        # length_quantiles (round 6): type-1 quantile = value at rank
        # ceil(p*n); the p*n product is the same IEEE double on both
        # engines so the rank (ulp quirks included) matches exactly
        "length_quantiles": """
            WITH r AS (
              SELECT lang, n_chars AS val,
                     row_number() OVER (
                       PARTITION BY lang ORDER BY n_chars ASC) AS rn,
                     count(*) OVER (PARTITION BY lang) AS n
              FROM documents
            ), probs(p) AS (
              VALUES (CAST(0.25 AS DOUBLE)), (CAST(0.5 AS DOUBLE)),
                     (CAST(0.75 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
                     (CAST(0.99 AS DOUBLE))
            )
            SELECT lang, p, val AS q
            FROM r JOIN probs
              ON r.rn = greatest(1, ceil(probs.p * r.n)::BIGINT)
        """,
        # substring_neardup (round 6): inverted index over verbatim
        # 8-token windows; DISTINCT per doc, hot windows (> 4096 docs)
        # dropped exactly as the Spark cap does; count = distinct
        # shared windows (md5-prefix keying on the Spark side is
        # injective at these scales so raw-window joins match)
        "substring_neardup": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS l FROM documents),
            wins AS (
              SELECT DISTINCT doc_id, g FROM toks,
                unnest(list_transform(range(1, len(l) - 8 + 2),
                       i -> array_to_string(l[i:i+7], ' '))) AS u(g)
              WHERE len(l) >= 8
            ), keep AS (
              SELECT doc_id, g FROM wins
              QUALIFY count(*) OVER (PARTITION BY g) <= 4096
            ), p AS (
              SELECT a.doc_id AS id_left, b.doc_id AS id_right
              FROM keep a JOIN keep b
                ON a.g = b.g AND a.doc_id < b.doc_id
            )
            SELECT id_left, id_right,
                   count(*)::BIGINT AS n_shared_windows
            FROM p GROUP BY 1, 2
        """,
        # graph_pagerank (round 6): the 5 iterations are unrolled as
        # chained CTEs built above (pagerank_cte); symmetric graph ⇒ no
        # dangling term; round-6 output absorbs sum-order ulp noise
        "graph_pagerank": f"""
            WITH {pagerank_cte}
            SELECT node, round(r, 6) AS pr6 FROM pr{_pr_iters}
        """,
        # graph_triangles (round 6): canonical u<v edges make the
        # wedge+closing join count each triangle exactly once with
        # x<y<z; zero-triangle endpoints kept via the degree table
        "graph_triangles": f"""
            WITH d AS (SELECT doc_id, {_TOKS}[1] AS bk FROM documents
                       WHERE len({_TOKS}) > 0),
            ce AS (
              SELECT DISTINCT l.doc_id AS u, r.doc_id AS v
              FROM d l JOIN d r ON l.bk = r.bk AND l.doc_id < r.doc_id
            ), deg AS (
              SELECT node, count(*) AS dg FROM (
                SELECT u AS node FROM ce
                UNION ALL SELECT v AS node FROM ce) t
              GROUP BY 1
            ), tri AS (
              SELECT a.u AS x, a.v AS y, b.v AS z
              FROM ce a JOIN ce b ON a.v = b.u
              JOIN ce c ON c.u = a.u AND c.v = b.v
            ), per AS (
              SELECT node, count(*)::BIGINT AS t FROM (
                SELECT x AS node FROM tri
                UNION ALL SELECT y AS node FROM tri
                UNION ALL SELECT z AS node FROM tri) t
              GROUP BY 1
            )
            SELECT dg.node, coalesce(per.t, 0)::BIGINT AS triangles
            FROM deg dg LEFT JOIN per USING (node)
        """,
        # kmeans_embed (round 6): the 3 Lloyd's iterations unrolled as
        # chained CTEs built above (kmeans_cte); round-6 distance
        # output absorbs sum-order ulp noise, assignments are integers
        "kmeans_embed": f"""
            WITH {kmeans_cte}
            SELECT vec_id, cid AS cluster, round(d, 6) AS dist6
            FROM a{_km_iters}
        """,
        # bm25_topk (round 6): same formula with the same operation
        # association as the Spark plan — ((idf·tf)·2.2)/(tf +
        # (1.2·(0.25 + ((0.75·dl)/avgdl)))) — round-6 before rank,
        # doc_id ties. 2.2 = k1+1 parses to the identical double.
        "bm25_topk": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS l FROM documents),
            st AS (SELECT count(*)::DOUBLE AS n,
                          avg(len(l))::DOUBLE AS avgdl FROM t),
            hits AS (
              SELECT doc_id, len(l)::DOUBLE AS dl,
                     unnest(list_filter(l, x -> list_contains(
                       ['join', 'merge', 'spark', 'window'], x))) AS tok
              FROM t
            ), tf AS (
              SELECT doc_id, tok, count(*)::DOUBLE AS tf,
                     any_value(dl) AS dl
              FROM hits GROUP BY 1, 2
            ), dfq AS (
              SELECT tok, count(*)::DOUBLE AS df FROM tf GROUP BY 1
            ), sc AS (
              SELECT doc_id, round(sum(
                (ln(1.0 + (((SELECT n FROM st) - df + 0.5) / (df + 0.5)))
                 * tf * 2.2)
                / (tf + (1.2 * (0.25 + ((0.75 * dl)
                                        / (SELECT avgdl FROM st)))))
              ), 6) AS score6
              FROM tf JOIN dfq USING (tok) GROUP BY 1
            )
            SELECT doc_id, score6,
                   row_number() OVER (
                     ORDER BY score6 DESC, doc_id ASC) AS rank
            FROM sc ORDER BY score6 DESC, doc_id ASC LIMIT 15
        """,
        # regional_revenue (round 6): TPC-H Q5 analog — same-nation
        # customer/supplier, ASIA, order year 1995; exact-decimal sum
        "regional_revenue": """
            SELECT n_name,
                   round((sum(l_extendedprice::DECIMAL(18,2)
                              * (1 - l_discount::DECIMAL(3,2))))::DOUBLE,
                         4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
                         AND s_nationkey = c_nationkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
            GROUP BY n_name
        """,
        # exact_jaccard_pairs (round 6): the oracle is the BRUTE-FORCE
        # quadratic join — the strongest possible check of the prefix-
        # filtered plan's 100%-recall claim (pairs AND values)
        "exact_jaccard_pairs": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS l FROM documents),
            sh AS (
              SELECT doc_id, list_sort(list_distinct(list_transform(
                       range(1, len(l) - 3 + 2),
                       i -> array_to_string(l[i:i+2], ' ')))) AS ts
              FROM toks WHERE len(l) >= 3
            ), p AS (
              SELECT l.doc_id AS id_left, r.doc_id AS id_right,
                     len(list_intersect(l.ts, r.ts)) AS inter,
                     len(l.ts) AS nl, len(r.ts) AS nr
              FROM sh l JOIN sh r ON l.doc_id < r.doc_id
            )
            SELECT id_left, id_right,
                   round(inter::DOUBLE / (nl + nr - inter), 6) AS jaccard
            FROM p WHERE inter::DOUBLE / (nl + nr - inter) >= 0.2
        """,
        # unigram_logprob (round 6): same tf-first shape; ln(c/T) with
        # the same operation order as the Spark plan, round-6 absorbs
        # libm/sum-order ulp noise
        "unigram_logprob": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS l FROM documents),
            tot AS (SELECT sum(len(l))::DOUBLE AS t FROM toks),
            tf AS (
              SELECT doc_id, tok, count(*)::DOUBLE AS tf FROM (
                SELECT doc_id, unnest(l) AS tok FROM toks)
              GROUP BY 1, 2
            ), cc AS (SELECT tok, sum(tf) AS c FROM tf GROUP BY 1),
            per AS (
              SELECT doc_id,
                     sum(tf * ln(c / (SELECT t FROM tot))) AS lp,
                     sum(tf) AS n
              FROM tf JOIN cc USING (tok) GROUP BY 1
            )
            SELECT t.doc_id, len(t.l)::BIGINT AS n_tokens,
                   round(coalesce(-per.lp / per.n, 0.0), 6) AS nll6
            FROM toks t LEFT JOIN per USING (doc_id)
        """,
        # events_pivot (round 6): explicit-domain pivot == one
        # conditional aggregate per type
        "events_pivot": """
            SELECT strftime(ts, '%Y-%m-%d') AS day,
                   count(*) FILTER (event_type = 'click')::BIGINT AS n_click,
                   count(*) FILTER (event_type = 'view')::BIGINT AS n_view,
                   count(*) FILTER (event_type = 'purchase')::BIGINT AS n_purchase,
                   count(*) FILTER (event_type = 'signup')::BIGINT AS n_signup,
                   count(*) FILTER (event_type = 'error')::BIGINT AS n_error
            FROM events GROUP BY 1
        """,
        # decayed_counts (round 6): same anchor (max ts), same integer
        # microsecond deltas, same operation association; pow/sum ulp
        # noise absorbed by round-6
        "decayed_counts": """
            WITH m AS (SELECT max(epoch_us(ts)) AS t FROM events)
            SELECT user_id,
                   round(sum(pow(2.0,
                     -(((SELECT t FROM m) - epoch_us(ts))::DOUBLE
                        / 86400000000.0) / 7.0)), 6) AS decayed_score,
                   count(*)::BIGINT AS n_events
            FROM events GROUP BY 1
        """,
        # graph_kcore (round 6): unrolled idempotent peel (kcore_cte)
        "graph_kcore": f"""
            WITH {kcore_cte}
            SELECT node, degree FROM d{_kc_rounds}
        """,
        # corpus_curation (round 6): the quality_gate CTE chain + the
        # exact-dedup keeper + the contamination check composed into
        # one auditable funnel over the corpus split (bk >= 5)
        "corpus_curation": f"""
            WITH t AS (
              SELECT doc_id, {_TOKS} AS l,
                     len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
                     length(text) AS chars, md5(text) AS digest,
                     (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                      )::BIGINT % 100) AS bk
              FROM documents
            ), sig AS (
              SELECT doc_id, len(l) AS q_tokens,
                     round(len(list_filter(l, x -> list_contains(
                       ['the','and','of','to','in','is','that','it','for','was'], x)
                     ))::DOUBLE / greatest(len(l), 1), 6) AS q_stopword_ratio,
                     round(n_punct::DOUBLE / greatest(chars, 1), 6) AS q_punct_ratio
              FROM t
            ), grams AS (
              SELECT doc_id, g
              FROM t,
                   unnest(list_transform(range(1, len(l) - 2 + 2),
                          i -> array_to_string(l[i:i+1], ' '))) AS u(g)
              WHERE len(l) >= 2
            ), gc AS (
              SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2
            ), ga AS (
              SELECT doc_id, sum(c) AS total, max(c) AS top, count(*) AS nd
              FROM gc GROUP BY 1
            ), rep AS (
              SELECT s.doc_id, s.q_tokens, s.q_stopword_ratio, s.q_punct_ratio,
                     round(coalesce(ga.top::DOUBLE / ga.total, 0.0), 6)
                       AS top_ngram_frac,
                     round(coalesce(1.0 - ga.nd::DOUBLE / ga.total, 0.0), 6)
                       AS dup_ngram_frac
              FROM sig s LEFT JOIN ga USING (doc_id)
            ), gated AS (
              SELECT doc_id, concat_ws(',',
                CASE WHEN q_tokens < 10 THEN 'too_short' END,
                CASE WHEN q_tokens > 5000 THEN 'too_long' END,
                CASE WHEN q_stopword_ratio < 0.01 THEN 'low_stopword' END,
                CASE WHEN q_punct_ratio > 0.30 THEN 'high_punct' END,
                CASE WHEN top_ngram_frac > 0.10 THEN 'top_ngram_heavy' END,
                CASE WHEN dup_ngram_frac > 0.09 THEN 'dup_ngram_heavy' END
              ) = '' AS q_keep FROM rep
            ), keepers AS (
              SELECT min(doc_id) AS doc_id FROM t GROUP BY digest
            ), ev AS (
              SELECT DISTINCT g
              FROM t,
                   unnest(list_transform(range(1, len(l) - 4 + 2),
                          i -> array_to_string(l[i:i+3], ' '))) AS u(g)
              WHERE bk < 5 AND len(l) >= 4
            ), cg AS (
              SELECT DISTINCT doc_id, g
              FROM t,
                   unnest(list_transform(range(1, len(l) - 4 + 2),
                          i -> array_to_string(l[i:i+3], ' '))) AS u(g)
              WHERE bk >= 5 AND len(l) >= 4
            ), hits AS (
              SELECT DISTINCT doc_id FROM cg JOIN ev USING (g)
            )
            SELECT c.doc_id, g.q_keep,
                   (k.doc_id IS NOT NULL) AS is_canonical,
                   (h.doc_id IS NOT NULL) AS contaminated,
                   (g.q_keep AND k.doc_id IS NOT NULL
                    AND h.doc_id IS NULL) AS kept
            FROM (SELECT doc_id FROM t WHERE bk >= 5) c
            JOIN gated g USING (doc_id)
            LEFT JOIN keepers k USING (doc_id)
            LEFT JOIN hits h USING (doc_id)
        """,
        # kmeans_f1 (round 6): the same unrolled kmeans CTEs feed the
        # contingency-table pairwise metric; every count is an exact
        # integer so P/R/F1 are exact rationals — hash-exact
        "kmeans_f1": f"""
            WITH {kmeans_cte},
            assign AS (SELECT vec_id AS n, cid AS c FROM a{_km_iters}),
            tr AS (SELECT vec_id AS n, label AS t FROM embeddings),
            cont AS (
              SELECT c, t, count(*)::DOUBLE AS nij
              FROM assign JOIN tr USING (n) GROUP BY 1, 2
            ),
            tpv AS (SELECT sum((nij * (nij - 1)) / 2) AS v FROM cont),
            prv AS (SELECT sum((ni * (ni - 1)) / 2) AS v FROM (
                      SELECT sum(nij) AS ni FROM cont GROUP BY c)),
            tuv AS (SELECT sum((nj * (nj - 1)) / 2) AS v FROM (
                      SELECT sum(nij) AS nj FROM cont GROUP BY t)),
            m AS (
              SELECT tpv.v AS tp, prv.v AS p, tuv.v AS t
              FROM tpv, prv, tuv
            ), r AS (
              SELECT tp, p, t,
                     CASE WHEN p > 0 THEN tp / p ELSE 0.0 END AS prec,
                     CASE WHEN t > 0 THEN tp / t ELSE 0.0 END AS rec
              FROM m
            )
            SELECT coalesce(tp, 0.0)::BIGINT AS tp_pairs,
                   coalesce(p, 0.0)::BIGINT AS pred_pairs,
                   coalesce(t, 0.0)::BIGINT AS true_pairs,
                   round(prec, 6) AS precision6,
                   round(rec, 6) AS recall6,
                   round(CASE WHEN prec + rec > 0
                         THEN 2 * prec * rec / (prec + rec)
                         ELSE 0.0 END, 6) AS f16
            FROM r
        """,
        # table_profile (round 6): one UNION ALL branch per column
        "table_profile": " UNION ALL ".join(
            f"""
            SELECT '{c}' AS column, count(*)::BIGINT AS n_rows,
                   (count(*) - count({c}))::BIGINT AS n_nulls,
                   count(DISTINCT {c})::BIGINT AS n_distinct
            FROM orders"""
            for c in (
                "o_orderkey", "o_custkey", "o_orderstatus",
                "o_totalprice", "o_orderdate", "o_orderpriority",
            )
        ),
    }
