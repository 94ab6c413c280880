"""Clustering evaluation at scale: pairwise precision/recall/F1
WITHOUT materializing pairs.

north_rule's acceptance metric is pairwise F1 >= 0.99 vs reference
clusters (BASELINE.json.metric; cf. the python test oracle
tests/oracle.py:pairwise_f1, which builds explicit pair sets). At
10^12 turns the pair sets are unbuildable — but every pairwise count
is a sum of binomial coefficients over the cluster x label
contingency table:

    TP = sum_ij C(n_ij, 2)   same cluster AND same label
    P  = sum_i  C(n_i., 2)   same predicted cluster
    T  = sum_j  C(n_.j, 2)   same true label

so the whole evaluation is three count-shuffles (keyed on
(cluster,label), cluster, label) + one 1-row reduce. Exact, and the
only driver data is the final scalar row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _pairs(n):
    """C(n,2) as an EXACT decimal (round-6 ADVICE): the old
    (n*(n-1))/2 form overflowed int64 beyond ~3e9-member groups and the
    double sums lost exactness past 2^53 pairs. Halve the even factor
    with a shift (no division of the product, no doubles) and multiply
    as decimal(19,0)x(19,0) → decimal(38,0); the downstream sums stay
    decimal-exact to ~1e38 total pairs."""
    even = (n % 2) == 0
    a = F.when(even, F.shiftright(n, 1)).otherwise(n)
    b = F.when(even, n - F.lit(1)).otherwise(F.shiftright(n - F.lit(1), 1))
    return a.cast("decimal(19,0)") * b.cast("decimal(19,0)")


def pairwise_cluster_metrics(
    predicted: DataFrame,
    truth: DataFrame,
    node_col: str = "node",
    cluster_col: str = "cluster",
    label_col: str = "label",
) -> DataFrame:
    """(node, cluster) x (node, label) → one row
    (tp_pairs, pred_pairs, true_pairs, precision6, recall6, f16).

    Nodes present in only one input are ignored (inner join) — the
    metric is defined over the co-labeled population. Zero-pair edge
    cases (all singletons) yield 0.0 scores, not nulls/NaN."""
    j = predicted.select(
        F.col(node_col).alias("n"), F.col(cluster_col).alias("c")
    ).join(
        truth.select(F.col(node_col).alias("n"), F.col(label_col).alias("t")),
        "n",
    )
    cont = j.groupBy("c", "t").agg(F.count(F.lit(1)).alias("nij"))
    # contingency is reused by all three sums; its marginals are tiny
    cont = cont.localCheckpoint(eager=False)
    tp = cont.agg(F.sum(_pairs(F.col("nij"))).alias("v"))
    pred = (
        cont.groupBy("c")
        .agg(F.sum("nij").alias("ni"))
        .agg(F.sum(_pairs(F.col("ni"))).alias("v"))
    )
    true = (
        cont.groupBy("t")
        .agg(F.sum("nij").alias("nj"))
        .agg(F.sum(_pairs(F.col("nj"))).alias("v"))
    )
    row = (
        tp.select(F.col("v").cast("double").alias("tp"))
        .crossJoin(pred.select(F.col("v").cast("double").alias("p")))
        .crossJoin(true.select(F.col("v").cast("double").alias("t")))
    )
    # counts are decimal-exact; the RATIOS round to double once here —
    # the same double division the metric always used, so values (and
    # the 6-dp gate hashes) are unchanged wherever the old sums were
    # still exact
    prec = F.when(F.col("p") > 0, F.col("tp") / F.col("p")).otherwise(0.0)
    rec = F.when(F.col("t") > 0, F.col("tp") / F.col("t")).otherwise(0.0)
    f1 = F.when(
        prec + rec > 0, 2 * prec * rec / (prec + rec)
    ).otherwise(0.0)
    return row.select(
        F.coalesce(F.col("tp"), F.lit(0.0)).cast("long").alias("tp_pairs"),
        F.coalesce(F.col("p"), F.lit(0.0)).cast("long").alias("pred_pairs"),
        F.coalesce(F.col("t"), F.lit(0.0)).cast("long").alias("true_pairs"),
        F.round(prec, 6).alias("precision6"),
        F.round(rec, 6).alias("recall6"),
        F.round(f1, 6).alias("f16"),
    )

