"""Graph communities and modularity (reference G7).

The reference ships matplotlib/networkx visualization utilities
(/root/reference/src/graph/visualize_graph_utils.py:9-103): GEXF export,
BFS-sampled subgraphs, and community coloring. The plotting, the export
and the BFS sample are out of scope here (SURVEY.md §2.1); what this
module keeps is the community side, Spark-first:

  G7  label_propagation_communities
                         synchronous min-label propagation — the
                         scale-safe stand-in for the reference's
                         networkx Louvain coloring; deterministic
                         (min-label tie-break, fixed iteration cap)
      modularity         Newman Q of a labeling, distributed aggregates
      louvain_refine     multi-level Louvain on the collected COMMUNITY
                         graph (communities ≪ nodes; refuses over budget)

LPA is one groupBy+join per round like the CC loop; only the community
graph is collected, under a budget.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def label_propagation_communities(
    edges: DataFrame, max_iter: int = 10, weighted: bool = True
) -> DataFrame:
    """G7: communities via synchronous WEIGHTED-majority label
    propagation — each round every node adopts the label carrying the
    largest total incident edge weight among its neighbors (tie-break:
    smallest label). Tracks the reference's weighted Louvain coloring
    (/root/reference/src/graph/visualize_graph_utils.py:30-42) where
    round 2's min-label variant could not: min-label converges to
    CONNECTED COMPONENTS and ignores weights entirely, merging two dense
    communities across a single weak bridge. Edges may carry a `weight`
    column (default 1.0).

    Deterministic: synchronous updates, min-label tie-break, stop at
    fixpoint OR on a period-2 oscillation (backstop), capped at
    max_iter. Each node's CURRENT label also votes, with weight equal
    to the node's maximum incident edge weight: without a self-vote,
    synchronous LPA 2-cycles on any bipartite structure (a single edge
    swaps labels forever and "converges" to two singletons — found by
    round-3 review); with self-weight = max incident weight the pair /
    star / path cases tie into the min label in one round and dense
    communities still outvote weak bridges. One groupBy+window+join
    shuffle set per round, same cost envelope as a CC iteration.

    ``weighted=False`` keeps the round-2 min-label behavior (per-
    component stable labels — useful as a cheap CC-style coloring).

    Returns (node, community) with community = a member node id."""
    from pyspark.sql import Window

    w_col = F.col("weight") if "weight" in edges.columns else F.lit(1.0)
    e = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), w_col.alias("w")
    )
    sym = (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"), "w"))
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.max("w").alias("w"))  # dedupe parallel edges, keep max
        .localCheckpoint(eager=True)
    )
    labels = sym.select(F.col("u").alias("node")).distinct().withColumn(
        "label", F.col("node")
    ).localCheckpoint(eager=True)
    # per-node self-vote weight: the node's strongest incident edge
    self_w = sym.groupBy("u").agg(F.max("w").alias("sw")).withColumnRenamed(
        "u", "node"
    ).localCheckpoint(eager=True)

    def fingerprint(lb: DataFrame) -> tuple[int, int]:
        row = lb.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(node, label))"), F.lit(0)).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"])

    seen = [fingerprint(labels)]
    for _ in range(max_iter):
        nbr = sym.join(labels.withColumnRenamed("node", "v"), "v")
        if weighted:
            own = labels.join(self_w, "node").select(
                F.col("node").alias("u"), "label", F.col("sw").alias("w")
            )
            support = (
                nbr.select("u", "label", "w")
                .unionByName(own)
                .groupBy("u", "label")
                .agg(F.sum("w").alias("ws"))
            )
            rank = Window.partitionBy("u").orderBy(
                F.col("ws").desc(), F.col("label").asc()
            )
            best = (
                support.withColumn("_rn", F.row_number().over(rank))
                .filter(F.col("_rn") == 1)
                .select(F.col("u").alias("node"), F.col("label").alias("nbr_label"))
            )
            pick = F.coalesce(F.col("nbr_label"), F.col("label"))
        else:
            best = (
                nbr.groupBy("u")
                .agg(F.min("label").alias("nbr_label"))
                .withColumnRenamed("u", "node")
            )
            pick = F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            )
        labels = (
            labels.join(best, "node", "left")
            .select("node", pick.alias("label"))
            .localCheckpoint(eager=True)
        )
        fp = fingerprint(labels)
        if fp == seen[-1] or (len(seen) >= 2 and fp == seen[-2]):
            break  # fixpoint, or 2-cycle (keep the current labeling)
        seen.append(fp)
    return labels.select("node", F.col("label").alias("community"))


def modularity(edges: DataFrame, labels: DataFrame) -> float:
    """Weighted Newman modularity Q of a node→community labeling:
    Q = Σ_c [ in_c/2m − (d_c/2m)² ] with in_c = 2×intra-community edge
    weight, d_c = total degree in c, m = total undirected edge weight.
    Distributed: two label joins + one aggregate — quantifies how far
    the LPA stand-in sits from the reference's Louvain coloring
    (/root/reference/src/graph/visualize_graph_utils.py:30-42), whose
    phase-1 objective is exactly this Q.

    edges: (src, dst[, weight]); parallel duplicates deduped by max
    (same rule as label_propagation_communities). labels: (node,
    community)."""
    w_col = F.col("weight") if "weight" in edges.columns else F.lit(1.0)
    e = (
        edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            w_col.alias("w"),
        )
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.max("w").alias("w"))
    )
    lu = labels.select(F.col("node").alias("u"), F.col("community").alias("cu"))
    lv = labels.select(F.col("node").alias("v"), F.col("community").alias("cv"))
    tagged = e.join(lu, "u").join(lv, "v").localCheckpoint(eager=True)
    m = tagged.agg(F.sum("w")).collect()[0][0] or 0.0
    if m == 0.0:
        return 0.0
    m2 = 2.0 * m
    intra = (
        tagged.filter(F.col("cu") == F.col("cv"))
        .groupBy("cu")
        .agg((F.sum("w") * 2.0).alias("in_c"))
    )
    deg = (
        tagged.select(F.col("cu").alias("c"), F.col("w"))
        .unionByName(tagged.select(F.col("cv").alias("c"), F.col("w")))
        .groupBy("c")
        .agg(F.sum("w").alias("d_c"))
    )
    rows = deg.join(
        intra.withColumnRenamed("cu", "c"), "c", "left"
    ).select(
        F.coalesce(F.col("in_c"), F.lit(0.0)).alias("in_c"), "d_c"
    ).agg(
        F.sum(F.col("in_c") / F.lit(m2) - (F.col("d_c") / F.lit(m2)) ** 2)
    ).collect()
    return float(rows[0][0])


def _collect_community_graph(
    edges: DataFrame, labels: DataFrame, max_communities: int
) -> list:
    """Aggregate node edges into the COMMUNITY multigraph — (c1, c2, w)
    with c1 == c2 rows carrying intra-community weight — and collect it
    under a driver budget (communities ≪ nodes by construction; refuse
    rather than OOM). Used by louvain_refine."""
    w_col = F.col("weight") if "weight" in edges.columns else F.lit(1.0)
    e = (
        edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            w_col.alias("w"),
        )
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.max("w").alias("w"))
    )
    lu = labels.select(F.col("node").alias("u"), F.col("community").alias("cu"))
    lv = labels.select(F.col("node").alias("v"), F.col("community").alias("cv"))
    tagged = e.join(lu, "u").join(lv, "v").localCheckpoint(eager=True)
    cg = (
        tagged.select(
            F.least("cu", "cv").alias("c1"),
            F.greatest("cu", "cv").alias("c2"),
            "w",
        )
        .groupBy("c1", "c2")
        .agg(F.sum("w").alias("w"))
    )
    cg_rows = cg.limit(max_communities * 20 + 1).collect()
    if len(cg_rows) > max_communities * 20:
        raise ValueError(
            "community graph exceeds the driver "
            f"budget ({max_communities * 20} edges); run LPA with more "
            "iterations or raise max_communities explicitly"
        )
    return cg_rows


def _apply_community_map(labels: DataFrame, mapping: list) -> DataFrame:
    """Relabel (node, community) through a driver-computed
    community → new_community map via one broadcast join."""
    spark = labels.sparkSession
    node_type = labels.schema["community"].dataType
    from pyspark.sql import types as T

    map_df = spark.createDataFrame(
        mapping,
        T.StructType(
            [
                T.StructField("community", node_type),
                T.StructField("new_community", node_type),
            ]
        ),
    )
    return (
        labels.join(F.broadcast(map_df), "community", "left")
        .select(
            "node",
            F.coalesce(F.col("new_community"), F.col("community")).alias(
                "community"
            ),
        )
    )


def louvain_refine(
    edges: DataFrame,
    labels: DataFrame | None = None,
    max_communities: int = 100_000,
    max_levels: int = 20,
) -> DataFrame:
    """TRUE multi-level Louvain (Blondel et al. 2008) run on the
    COMMUNITY graph: phase 1 moves individual communities between
    groups by modularity gain until no move improves Q, phase 2
    contracts each group into a super-node (internal weight → self
    loop) and repeats — the full recursive coarsening the reference
    gets from nx.louvain_communities
    (reference src/graph/visualize_graph_utils.py:30-42).

    Two entry modes:
    - ``labels=None`` (singleton start): every node begins as its own
      community — this IS node-level Louvain, the reference's exact
      semantics minus nx's RNG, for graphs within the driver budget
      (the reference only runs Louvain on visualization-scale exports).
    - ``labels`` given: the labeling is REFINEMENT GRANULARITY — levels
      move whole initial communities, never split one (a wrong initial
      merge is not repairable; start from singletons when that
      matters). With LPA as pre-coarsening this is the standard
      multi-level scheme: at 100 TB the node graph never touches the
      driver, only the bounded community graph does (a
      max_communities*20 edge budget with a refuse-rather-than-OOM
      guard).

    Deterministic: nodes visited in sorted order each pass, candidate
    target groups evaluated best-gain-first with ties broken by the
    smallest group label, group labels are the min original member, and
    the float accumulation order is fixed by sorted iteration — no RNG
    anywhere. Returns (node, community).
    """
    if labels is None:
        nodes = (
            edges.select(F.col("src").alias("node"))
            .union(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
        labels = nodes.withColumn("community", F.col("node"))
    cg_rows = _collect_community_graph(edges, labels, max_communities)
    if not cg_rows:
        return labels
    # collect() row order is not deterministic across runs; sort before
    # any float accumulation so the label output is run-stable
    cg_rows = sorted(cg_rows, key=lambda r: (r["c1"], r["c2"]))
    # adjacency (u != v) + self weights from the community multigraph
    adj: dict = {}
    self_w: dict = {}
    for r in cg_rows:
        c1, c2, w = r["c1"], r["c2"], float(r["w"])
        if c1 == c2:
            self_w[c1] = self_w.get(c1, 0.0) + w
            adj.setdefault(c1, {})
        else:
            adj.setdefault(c1, {})[c2] = adj.get(c1, {}).get(c2, 0.0) + w
            adj.setdefault(c2, {})[c1] = adj.get(c2, {}).get(c1, 0.0) + w
    for n in list(self_w):
        adj.setdefault(n, {})

    # original community label -> its current super-node, refined level
    # by level
    assign = {n: n for n in adj}

    for _level in range(max_levels):
        # re-sort neighbor dicts: accumulation order fixed per level
        adj = {i: dict(sorted(d.items())) for i, d in adj.items()}
        nodes = sorted(adj)
        k = {
            i: sum(adj[i].values()) + 2.0 * self_w.get(i, 0.0) for i in nodes
        }
        m2 = sum(k.values())
        if m2 <= 0.0:
            break
        comm = {i: i for i in nodes}
        members: dict = {i: {i} for i in nodes}
        sigma_tot = dict(k)
        moved_any = False
        for _pass in range(100):
            moved = False
            for i in nodes:
                ci = comm[i]
                # weight from i to each adjacent group
                w_to: dict = {}
                for j, w in adj[i].items():
                    w_to[comm[j]] = w_to.get(comm[j], 0.0) + w
                sigma_tot[ci] -= k[i]
                # candidate groups: adjacent ones plus staying put;
                # f(C) = w(i,C) − Σtot_C·k_i/m2 (ΔQ × m2/2, same argmax)
                best_c, best_f = ci, w_to.get(ci, 0.0) - sigma_tot[ci] * k[i] / m2
                for c in sorted(w_to):
                    f = w_to[c] - sigma_tot[c] * k[i] / m2
                    if f > best_f + 1e-12 or (
                        f > best_f - 1e-12 and c < best_c
                    ):
                        best_c, best_f = c, f
                sigma_tot[best_c] += k[i]
                if best_c != ci:
                    comm[i] = best_c
                    members[ci].discard(i)
                    members[best_c].add(i)
                    moved = moved_any = True
            if not moved:
                break
        if not moved_any:
            break
        # canonical group label = min member; fold into the assignment
        canon = {c: min(ms) for c, ms in members.items() if ms}
        relabel = {i: canon[comm[i]] for i in nodes}
        assign = {orig: relabel[cur] for orig, cur in assign.items()}
        # phase 2: contract groups into super-nodes
        new_adj: dict = {}
        new_self: dict = {}
        for i in nodes:
            gi = relabel[i]
            new_self[gi] = new_self.get(gi, 0.0) + self_w.get(i, 0.0)
            new_adj.setdefault(gi, {})
        for i in nodes:
            gi = relabel[i]
            for j, w in adj[i].items():
                if i < j:  # each undirected pair once
                    gj = relabel[j]
                    if gi == gj:
                        new_self[gi] = new_self.get(gi, 0.0) + w
                    else:
                        new_adj.setdefault(gi, {})[gj] = (
                            new_adj.get(gi, {}).get(gj, 0.0) + w
                        )
                        new_adj.setdefault(gj, {})[gi] = (
                            new_adj.get(gj, {}).get(gi, 0.0) + w
                        )
        adj, self_w = new_adj, new_self

    return _apply_community_map(labels, sorted(assign.items()))
