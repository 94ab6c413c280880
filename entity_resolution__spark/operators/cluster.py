"""Connected components: partition-local forest, then a driver finish or
the large-star / small-star join loop.

Replaces the reference's single-process union-find
(scripts/apply_transitivity.py:21-45). Every call runs
one min-root union-find (`_union_find`) per partition, turning each
partition's edges into a spanning forest (`_local_forest_edges`). A
small forest is finished by the same union-find on the driver
(`_local_dsu_components`); a large one, or any run that snapshots its
iterations, by the alternating-star algorithm of Kiveris et al.,
"Connected Components in MapReduce and Beyond" (SoCC'14): O(log^2 n)
rounds worst case, ~log n in practice, each round a pair of shuffles
keyed on node id. Both give root = min member. Node ids are any
orderable type (we use conv_id strings; lexicographic order is the
total order).

Star-loop scale notes:
- Each iteration is groupBy(node).min + join — both shuffle on the node
  key; AQE handles stragglers, and the star-contraction itself removes
  high-degree hubs after round 1 (a hub's neighbors all rewire to the
  component min), so degree skew self-heals.
- Lineage is cut every iteration via localCheckpoint() (on a cluster:
  per-iteration Iceberg snapshot through plans.checkpoint.StageStore),
  otherwise the plan tree grows exponentially.
- Convergence is detected by an edge-set fingerprint (count + xor/sum of
  per-edge hashes) — one tiny aggregate per round, no collect of edges.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from itertools import chain

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _symmetric(edges: DataFrame) -> DataFrame:
    """(src,dst) undirected edge list → both-direction (u,v), no self-loops."""
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    return (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _resym(e: DataFrame) -> DataFrame:
    """Directed (u>v) edge list → both directions (large-star needs Γ(u))."""
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u: connect every neighbor v > u to min(Γ(u) ∪ {u}).

    One window over u replaces the round-1-3 groupBy+self-join (two
    shuffles → one): every row sees its group min in the same exchange
    that grouped it. Round 4 — at 1M edges the loop's per-iteration
    shuffle count is the wall-clock term."""
    from pyspark.sql import Window

    w = Window.partitionBy("u")
    # no trailing distinct: duplicates cannot change _small_star's
    # per-u window MIN, and its own terminal distinct collapses them —
    # dropping it removes one full Exchange per star round (the round
    # was 4 exchanges; duplicate inflation between the two stars is
    # bounded at 2x). Results are identical edge SETS, so the
    # convergence fingerprints (computed after _small_star's distinct)
    # are unchanged.
    return (
        e.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Directed edges (u > v): connect all smaller neighbors + u to the min.

    Same window-instead-of-join rewrite as _large_star; both output
    families — (neighbor, min) and (u, min) — are emitted in ONE pass
    via a per-row explode (the (u, min) duplicates within a group
    collapse in the final distinct), so the old join + union is gone."""
    from pyspark.sql import Window

    w = Window.partitionBy("u")
    base = e.withColumn("m", F.min("v").over(w))
    pairs = base.select(
        F.explode(
            F.array(
                F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
                F.struct(F.col("u").alias("a"), F.col("m").alias("b")),
            )
        ).alias("p")
    ).select(F.col("p.a").alias("u"), F.col("p.b").alias("v"))
    return pairs.filter(F.col("u") != F.col("v")).distinct()


def _fingerprint(e: DataFrame) -> tuple[int, int]:
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


@dataclass
class CCResult:
    assignments: DataFrame  # (node, root)
    iterations: int
    fingerprints: list[tuple[int, int]] = field(default_factory=list)


def _union_find(pairs) -> tuple[list, list]:
    """Min-root union-find over an iterable of (a, b) edges → (nodes,
    roots), where root is the smallest member of the node's component.
    Iterative find with path compression; min-root maintained by always
    attaching the larger root under the smaller — independently
    structured from the reference's recursive rank-union DSU
    (apply_transitivity.py:21-45). The one copy behind both the
    per-partition pre-pass and the driver finish.

    `pairs` is consumed lazily, so the pre-pass can stream Arrow batches
    through it holding only the parent dict. Feed it native python
    values (`.tolist()`), not numpy scalars: the loop hashes every
    endpoint into the parent dict, and numpy scalar boxing +
    np.int64.__hash__ make that ~3× slower than native python ints
    (measured at 1.05M edges: 10.7 s → 3.4 s; strings are object-dtype
    either way). A numpy-vectorized CC (minimum.at relax + pointer
    doubling) was prototyped and measured SLOWER (13.5 s — unbuffered
    ufunc.at scatter), so the scalar DSU stays."""
    parent: dict = {}

    def find(x):
        r = parent.setdefault(x, x)
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    nodes = list(parent)
    return nodes, [find(n) for n in nodes]


def _local_dsu_components(edges: DataFrame, _edges_pdf=None) -> DataFrame:
    """Driver-side finish for SMALL edge sets: `_union_find` over the
    collected edges, same output contract as the distributed loop
    (root = min member).

    `_edges_pdf`: the caller may pass the already-fetched pandas edge
    frame (connected_components' size probe IS the fetch) so the
    transfer is not paid twice; `edges` still supplies schema/session.
    """
    # Arrow transfer both ways. Round-5 A/B at 100k string edges,
    # local[8]: Row collect 0.47s → toPandas 0.18s, find-loop 0.18s →
    # 0.06s (numpy array iteration vs Row __getitem__), tuple-list
    # createDataFrame 0.87s → from-pandas 0.56s; leg total 1.52s →
    # 0.79s (−48%). Same output, same contract.
    # Null endpoints are dropped BEFORE the transfer (round-5 ADVICE):
    # pandas widens an integer column containing any null to float64,
    # silently corrupting node ids (NaN dict keys; precision loss above
    # 2^53) where the old Row path surfaced None. A null endpoint is a
    # malformed edge on either path — excluding it matches the
    # distributed loop, whose u>v / u!=v comparisons drop nulls too.
    pdf = _edges_pdf
    if pdf is None:
        pdf = edges.select("src", "dst").na.drop(subset=["src", "dst"]).toPandas()
    import pandas as pd
    import pandas.api.types as _pt
    from pyspark.sql import types as T

    for c in ("src", "dst"):
        if _pt.is_float_dtype(pdf[c]) and not isinstance(
            edges.schema[c].dataType, (T.FloatType, T.DoubleType)
        ):
            # belt-and-braces: no nulls remain, so a float dtype for an
            # integral Spark type means the Arrow path changed — fail
            # fast rather than hand NaN/lossy ids to the DSU
            raise TypeError(
                f"_local_dsu_components: column {c!r} arrived as "
                f"{pdf[c].dtype} for Spark type {edges.schema[c].dataType}"
            )
    nodes, roots = _union_find(zip(pdf["src"].tolist(), pdf["dst"].tolist()))
    out = pd.DataFrame({"node": nodes, "root": roots})
    spark = edges.sparkSession
    node_type = edges.schema["src"].dataType
    schema = T.StructType(
        [T.StructField("node", node_type), T.StructField("root", node_type)]
    )
    if out.empty:
        return spark.createDataFrame([], schema)
    res = spark.createDataFrame(out, schema)
    if len(out) > 200_000:
        # a LocalRelation this size is re-serialized from the driver on
        # EVERY downstream job — assign_clusters alone runs 3+ jobs over
        # it (size agg, dense-id collect, stage materialization), ~4.4 s
        # per rescan at 1M string rows. Distribute once into executor
        # blocks and cut the lineage; below the gate the relation is
        # cheap enough that the extra shuffle would be pure overhead.
        res = res.repartition(
            spark.sparkContext.defaultParallelism
        ).localCheckpoint(eager=True)
    return res


def _local_forest_edges(edges: DataFrame) -> DataFrame:
    """Partition-local union-find pre-pass (round-6 VERDICT #1, the
    two-level CC): each task runs `_union_find` over ITS partition's
    edges and emits that partition's components as min-root star edges
    (node → local_root, one per non-root member). The union of these
    per-partition spanning stars is connectivity-EQUIVALENT to the
    input (each partition's edge set is replaced by a spanning forest of
    the same local components), so either finish computes the identical
    (node, min-root) assignment — but its input now has diameter ≤ 2 per
    partition-component, so star rounds collapse to ~log(cross-partition
    path length) instead of ~log(graph diameter), and on dense graphs
    the edge count shrinks toward |V|. At the 1.05M-chain-edge
    cc_atsize shape this replaced 11 star rounds with 3. No driver
    state: the DSU runs inside mapInPandas per task.

    Only (src, dst) is carried: extra edge columns (a weight, say) would
    otherwise be declared in the output schema but never yielded."""
    import pandas as pd

    edges = edges.select("src", "dst")

    def forest(pdf_iter):
        nodes, roots = _union_find(
            chain.from_iterable(
                zip(pdf["src"].tolist(), pdf["dst"].tolist()) for pdf in pdf_iter
            )
        )
        out = pd.DataFrame(
            {
                "src": [n for n, r in zip(nodes, roots) if n != r],
                "dst": [r for n, r in zip(nodes, roots) if n != r],
            }
        )
        if out.empty:
            return
        yield out

    return edges.mapInPandas(forest, edges.schema)


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    on_iteration=None,
    local_threshold: int = 2_000_000,
) -> CCResult:
    """edges(src, dst) → (node, root) where root = min member of component.

    Nodes appearing only as isolated (no edges) are the caller's concern —
    union them in afterwards (see `assign_clusters`). ``on_iteration`` is
    an optional callback (it, edges_df, fingerprint) used by the
    checkpointing layer to commit per-iteration snapshots (north_rule:
    cluster-iteration resumability). Columns other than src and dst are
    ignored.

    One shape for every call: the partition-local forest pre-pass
    (`_local_forest_edges`) always runs first, then one of two finishes.

    - Driver finish: when ``on_iteration`` is unset and the forest has
      at most ``local_threshold`` edges, it is collected and solved by
      the driver union-find (one pass, one job) instead of paying
      2 + 2·rounds job barriers of the star loop — at 20k edges the
      loop is pure fixed overhead (~10 s of scheduling for <1 s of
      compute), and at 1.05M edges the DSU still wins 4-13× (3.4-10.7 s
      vs 41.6 s: the star loop's per-iteration barriers don't shrink
      with edge count, which is also why the clusters stage scaled at
      0.27 in the round-6 4.3M-turn pair). Same spirit as Spark
      choosing broadcast over sort-merge. The forest holds at most one
      edge per node per partition, so the collect scales with the node
      count, not the edge count. The 2M default bounds it at ~200 MB
      for string node ids — the same adaptive-threshold idiom as
      Spark's autoBroadcastJoinThreshold (ADVICE round 2 flagged 2M ×
      cohort-qualified composite keys as multi-GB; those callers pass a
      lower threshold or dense int keys).
    - Star loop: the distributed large-star/small-star rounds over the
      forest, the 100 TB scale path. Forced whenever per-iteration
      snapshots are requested (``on_iteration`` set) or
      ``local_threshold=0``.

    Both finishes produce identical (node, root) assignments; tests
    assert parity. Self-loop edges are dropped up front (the star
    loop's u>v filter would otherwise drop them only on that path).
    """
    # The forest's eager checkpoint is the one materialisation of the
    # input: the mapInPandas reads the upstream lineage once, and both
    # finishes — the probe below, and _symmetric's union of the edges
    # with their reverse — read the forest instead, so the feature UDF
    # stage upstream is never recomputed. The src != dst filter also
    # drops null endpoints (the comparison is null, which filters out).
    forest = _local_forest_edges(
        edges.filter(F.col("src") != F.col("dst"))
    ).localCheckpoint(eager=True)
    if on_iteration is None and local_threshold > 0:
        # the size probe IS the fetch: one bounded Arrow transfer
        # (limit caps driver bytes exactly like a count probe would cap
        # the decision) instead of a count job + a full toPandas
        probe_pdf = forest.limit(local_threshold + 1).toPandas()
        if len(probe_pdf) <= local_threshold:
            assign = _local_dsu_components(forest, _edges_pdf=probe_pdf)
            return CCResult(assignments=assign, iterations=0, fingerprints=[])
    e = (
        _symmetric(forest)
        .filter(F.col("u") > F.col("v"))  # canonical directed form
        .localCheckpoint(eager=True)
    )
    # prev_fp starts unknown (saves one aggregate job): the loop always
    # runs ≥1 iteration and compares consecutive iteration fingerprints.
    prev_fp: tuple[int, int] | None = None
    fps: list[tuple[int, int]] = []
    it = 0
    for it in range(1, max_iter + 1):
        e = _small_star(_large_star(_resym(e))).localCheckpoint(eager=True)
        fp = _fingerprint(e)
        fps.append(fp)
        if on_iteration is not None:
            on_iteration(it, e, fp)
        if fp == prev_fp:
            break
        prev_fp = fp
    # At fixpoint edges form stars u→root (u > root): assignment is direct.
    roots = e.groupBy("u").agg(F.min("v").alias("root"))
    assign = roots.select(F.col("u").alias("node"), "root")
    # star centers map to themselves
    centers = assign.select(F.col("root").alias("node")).distinct()
    assign = assign.unionByName(
        centers.join(assign, "node", "left_anti").withColumn("root", F.col("node"))
    )
    return CCResult(assignments=assign, iterations=it, fingerprints=fps)


def _dense_ids(
    distinct_keys: DataFrame,
    key_cols: list[str],
    id_col: str,
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """distinct key rows → + dense 0..K-1 id in sorted-key order.

    Size-adaptive: K under the threshold is numbered driver-side (one
    collect, one createDataFrame) — the distributed sort+zipWithIndex
    path costs 2 extra jobs plus a Python-RDD round trip, pure overhead
    for dimension-sized K. Above the threshold: distributed sort +
    zipWithIndex over the K rows only (never a global window — a
    `row_number() over ()` would serialize on one task)."""
    spark = distinct_keys.sparkSession
    keys = distinct_keys.orderBy(*key_cols)
    schema_str = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in distinct_keys.schema.fields
    )
    probe = keys.limit(local_threshold + 1).collect()
    if len(probe) <= local_threshold:
        rows = [tuple(r) + (i,) for i, r in enumerate(probe)]
        return spark.createDataFrame(rows, f"{schema_str}, {id_col} long")
    indexed = keys.rdd.map(tuple).zipWithIndex().map(lambda t: t[0] + (t[1],))
    return spark.createDataFrame(indexed, f"{schema_str}, {id_col} long")


# separator for cohort-qualified node keys; sorts below every character
# that can appear in cohort names or node ids, so the concatenated key
# order equals the (cohort, node) tuple order
_COHORT_SEP = "\x1f"


def cohort_transitive_clusters(seed: DataFrame, max_iter: int = 50) -> DataFrame:
    """G2 cohort-seeded transitivity (reference
    /root/reference/scripts/apply_transitivity.py:107-168): union-find
    run SEPARATELY per cohort over seed edges (u, v, cohort), then one
    GLOBAL dense renumber over sorted (cohort, local cluster): a node
    seeded in k cohorts appears k times, each with its cohort-local
    cluster id mapped to a distinct global id.

    Distributed form: qualify node keys as cohort‖sep‖node so ONE
    large-star/small-star CC run handles every cohort at once (cohorts
    never collide across the separator), split the keys back, and
    renumber over the distinct (cohort, root) pairs via sorted
    zipWithIndex — K rows, no single-partition window.

    Documented deviation: within a cohort the reference orders local
    clusters by the DSU root id, which depends on union order; here the
    order key is the component's MIN member — deterministic and
    engine-reproducible (the DuckDB oracle uses the same rule).

    Input columns: u (string), v (string), cohort (string).
    Output: (cohort, node_id, cluster_id, cluster_size).
    """
    spark = seed.sparkSession
    q = seed.select(
        F.concat_ws(_COHORT_SEP, "cohort", "u").alias("src"),
        F.concat_ws(_COHORT_SEP, "cohort", "v").alias("dst"),
    )
    # composite "cohort|node" string keys are several× wider than the
    # ER pipeline's conv_ids — keep this caller at the old 500k collect
    # bound rather than the raised 2M default (ADVICE round 2)
    cc = connected_components(q, max_iter=max_iter, local_threshold=500_000)
    asn = cc.assignments.select(
        F.split_part(F.col("node"), F.lit(_COHORT_SEP), F.lit(1)).alias("cohort"),
        F.split_part(F.col("node"), F.lit(_COHORT_SEP), F.lit(2)).alias("node_id"),
        F.split_part(F.col("root"), F.lit(_COHORT_SEP), F.lit(2)).alias("root_node"),
    )
    # One aggregate produces BOTH the distinct roots and their sizes;
    # dense ids are appended to that K-row frame, so the N-row `asn`
    # pays a single join against one combined dimension (round-4
    # VERDICT: the old root_ids-join + sizes-join pair was two N-row
    # shuffles for the same information).
    sizes = asn.groupBy("cohort", "root_node").agg(
        F.count(F.lit(1)).cast("int").alias("cluster_size")
    )
    dim = _dense_ids(sizes, ["cohort", "root_node"], "cluster_id")
    return asn.join(dim, ["cohort", "root_node"]).select(
        "cohort", "node_id", "cluster_id", "cluster_size"
    )


def cluster_edges(clusters: DataFrame, mode: str = "star") -> DataFrame:
    """Re-wire each cluster as a chain (sorted members consecutive) or a
    star (min member = hub), weight 1.0 — reference G5
    (/root/reference/src/graph/build_graph_after_transitivity.py:5-41).
    Chain: lag window within cluster. Star: min-over-cluster window.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy("conv_id")
    if mode == "chain":
        out = clusters.select(
            "cluster_id",
            F.lag("conv_id").over(w).alias("src"),
            F.col("conv_id").alias("dst"),
        ).filter(F.col("src").isNotNull())
    elif mode == "star":
        out = clusters.select(
            "cluster_id",
            F.min("conv_id").over(Window.partitionBy("cluster_id")).alias("src"),
            F.col("conv_id").alias("dst"),
        ).filter(F.col("src") != F.col("dst"))
    else:
        raise ValueError(f"unknown mode {mode!r}")
    return out.select("src", "dst", F.lit(1.0).alias("weight"))


def assign_clusters(cc: DataFrame, all_nodes: DataFrame) -> DataFrame:
    """(node, root) + all_nodes(node) → (conv_id, cluster_id,
    cluster_size) with dense ids.

    Mirrors the reference's global renumber + size attach
    (/root/reference/scripts/apply_transitivity.py:159-168): cluster ids
    are dense 0..K-1 in sorted-min-member order; singletons (nodes with
    no edges) become their own clusters.

    Dense renumbering runs over the DISTINCT roots only (K rows, not N)
    via _dense_ids: driver-side for dimension-sized K, distributed
    sort + zipWithIndex above the threshold — never a single-partition
    window.
    """
    full = all_nodes.select("node").join(cc, "node", "left").withColumn(
        "root", F.coalesce(F.col("root"), F.col("node"))
    )
    # Fused renumber+size (round-4 VERDICT #1): the groupBy that counts
    # cluster sizes already yields the distinct roots, so dense ids are
    # appended to THAT K-row frame and `full` pays ONE join against the
    # combined (root, cluster_size, cluster_id) dimension instead of two
    # N-row shuffle joins.
    sizes = full.groupBy("root").agg(F.count(F.lit(1)).cast("int").alias("cluster_size"))
    dim = _dense_ids(sizes, ["root"], "cluster_id")
    out = full.join(dim, "root").select(
        F.col("node").alias("conv_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        "cluster_size",
    )
    return out


def incremental_clusters(
    prior: DataFrame, new_edges: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Incremental re-clustering: fold a NEW batch of match edges into
    an existing (conv_id, cluster_id, cluster_size) assignment without
    touching the original pair corpus (the nightly-delta form of the
    north rule's resumability — yesterday's 10^9-row assignment +
    today's 10^6 new edges must not re-run blocking/scoring over the
    whole corpus).


    The prior assignment is re-expressed as its star edges (hub = min
    member — exactly the canonical form the CC loop converges to, so
    this adds one edge per non-hub node, not one per original pair),
    unioned with the new edges, and one CC pass + the fused dense
    renumber produces the updated assignment. Semantics: clusters can
    only MERGE (via new edges bridging them) or grow with unseen nodes;
    node ids appearing only in `prior` are preserved as their own
    (possibly singleton) clusters. Equivalent to full recluster over
    (all prior intra-cluster pairs ∪ new edges) — star form is the
    transitive reduction, so the CC result is identical.


    prior: (conv_id, cluster_id, cluster_size).
    new_edges: (src, dst).
    Output: (conv_id, cluster_id, cluster_size) with dense ids in
    sorted-min-member order.
    """
    star = cluster_edges(prior, mode="star").select("src", "dst")
    edges = star.unionByName(new_edges.select("src", "dst"))
    nodes = (
        prior.select(F.col("conv_id").alias("node"))
        .unionByName(new_edges.select(F.col("src").alias("node")))
        .unionByName(new_edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    cc = connected_components(edges, max_iter=max_iter)
    return assign_clusters(cc.assignments, nodes)
