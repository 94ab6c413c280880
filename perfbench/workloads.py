"""The benchmark's workloads. Each prepares its inputs from the run seed,
opens them in a session, and runs units of work: one cold unit in the
fresh session, then steady units. A unit is timed around public calls
only and checked afterwards, outside the timed region.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

from oracle import (
    check_clusters,
    check_query,
    expected,
    planted_expectation,
    value_hash_fn,
)
from procstat import tree_cpu_s

# The bench.py HEADLINE queries that run the package's own operators (text
# stats, dedup, similarity, CC, scan spread). Its four TPC-H-style SQL
# queries (pricing_summary, top_revenue, window_order_rank, events_hourly)
# run Spark SQL alone, and leaving them out keeps a run inside its budget.
QUERIES = [
    "tokenize_stats", "exact_dedup", "minhash_signature", "ngram_neardup_pairs",
    "lang_quality", "embedding_topk", "knn_join", "simhash", "cc_clusters",
    "cohort_clusters", "quality_gate", "contamination", "kmv_distinct",
]
TINY_QUERIES = ["tokenize_stats", "exact_dedup", "cc_clusters"]
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
ER_STAGES = ["conversations", "blocks", "candidate_pairs", "scores", "edges", "clusters"]
ER_ENTITIES = 6000
TINY_ENTITIES = 60


@dataclass
class Unit:
    kind: str  # "cold" | "steady"
    wall_s: float
    cpu_s: float
    attempted: int = 1
    failed: int = 0
    problems: list = field(default_factory=list)
    parts: dict = field(default_factory=dict)  # per-query walls, stage walls


class Tracer:
    """Spans (name, start, end, parent, run) kept in memory; the run
    writes them out when it ends. Disabled unless the run is traced."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        if self.enabled:
            self.spans.append(
                {"id": len(self.spans), "name": name, "start": start, "end": end,
                 "parent": parent, "run": self.run_id}
            )
        return len(self.spans) - 1

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = self.add(name, time.time(), time.time(), self.current())
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None


def _timed(fn):
    """(result, wall seconds, process-tree cpu seconds) of fn()."""
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    out = fn()
    wall = time.perf_counter() - t0
    return out, wall, tree_cpu_s() - cpu0


class ERWorkload:
    """run_pipeline over the seed-42 ER fixture, without a StageStore: the
    stage boundaries are local checkpoints and clustering takes the
    driver union-find path. Every unit is a whole pass from the input
    files to the clusters; the first runs in the fresh session, the
    steady ones in the warm session."""

    stored = False
    min_steady = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.n_entities = TINY_ENTITIES if ctx.tiny else ER_ENTITIES
        self.input_dir = os.path.join(ctx.run_dir, "transcripts")
        self.store = None
        self.n_units = 0
        self.stage_windows: list[tuple[str, float, float]] = []  # every stage() call
        self.windows: list[tuple[str, float, float]] = []  # the cold pass's
        self.layer: dict = {}
        # the running pass's store figures, and the layer figures kept
        self._stats = {"commit_s": 0.0, "commits": 0, "bytes_written_mb": 0.0, "read_s": 0.0}
        self.checkpoint = {**self._stats, "resume_s": 0.0}

    def _fixture(self):
        """The seed-42 fixture, generated once per checkout and cached."""
        import pandas as pd

        path = os.path.join(self.ctx.work_dir, "cache", f"transcripts_e{self.n_entities}.parquet")
        if not os.path.exists(path):
            from entity_resolution__spark.data.synth import make_transcripts

            pdf = make_transcripts(seed=42, n_entities=self.n_entities)
            # Spark reads microsecond timestamps, not pandas' nanoseconds
            pdf["ts"] = pdf["ts"].astype("datetime64[us]")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pdf.to_parquet(path + ".tmp", index=False)
            os.replace(path + ".tmp", path)
        return pd.read_parquet(path)

    def prepare_inputs(self) -> None:
        """The run seed picks the row order and so what each input file
        and partition holds; the clustering must not depend on it."""
        from entity_resolution__spark.data.synth import true_clusters

        pdf = self._fixture().sample(frac=1.0, random_state=self.ctx.seed)
        pdf = pdf.reset_index(drop=True)
        self.truth = true_clusters(pdf)
        self.expect = (
            planted_expectation(self.truth)
            if self.ctx.tiny
            else expected()[f"er_e{self.n_entities}"]
        )
        os.makedirs(self.input_dir)
        # 16 files: one pandas parquet file is one unsplittable row group
        n_files = 16
        step = -(-len(pdf) // n_files)
        for i in range(n_files):
            pdf.iloc[i * step : (i + 1) * step].to_parquet(
                os.path.join(self.input_dir, f"part-{i:02d}.parquet"), index=False
            )

    def open_inputs(self, spark) -> None:
        self.transcripts = spark.read.parquet(self.input_dir)

    def _new_store(self):
        """A fresh warehouse for this unit (the previous unit's is removed,
        untimed); traced runs time its commits and reads and record the
        window of every stage() call."""
        if not self.stored:
            return None
        from entity_resolution__spark.plans.checkpoint import StageStore

        if self.store is not None:
            shutil.rmtree(self.store.root, ignore_errors=True)
        root = os.path.join(self.ctx.run_dir, f"warehouse-{self.n_units}")
        if not self.ctx.trace:
            return StageStore(root)
        stats, windows = self._stats, self.stage_windows

        class TimedStageStore(StageStore):
            def stage(self, spark, name, params, compute, lineage=None):
                # the pipeline runs each stage in one call: its window is
                # exact, and work between stages falls outside every window
                t0 = time.time()
                out = super().stage(spark, name, params, compute, lineage)
                windows.append(("edges" if name == "edges_dropped" else name, t0, time.time()))
                return out

            def commit(self, df, stage, fp, lineage=None, extra_metrics=None):
                t0 = time.perf_counter()
                out = super().commit(df, stage, fp, lineage, extra_metrics)
                stats["commit_s"] += time.perf_counter() - t0
                stats["commits"] += 1
                snap = os.path.join(self.root, stage, self.manifest(stage)["snapshot_id"])
                stats["bytes_written_mb"] += sum(
                    os.path.getsize(os.path.join(d, f))
                    for d, _, files in os.walk(snap) for f in files
                ) / 1e6
                return out

            def read(self, spark, stage):
                t0 = time.perf_counter()
                out = super().read(spark, stage)
                stats["read_s"] += time.perf_counter() - t0
                return out

        return TimedStageStore(root)

    def _pass(self, spark, kind: str, store) -> Unit:
        """One timed run_pipeline, its clusters collected to the driver
        and checked outside the timed region."""
        from entity_resolution__spark.plans.pipeline import ERConfig, run_pipeline

        self.stage_windows.clear()
        for k in self._stats:
            self._stats[k] = 0.0
        cfg = ERConfig(stage_timing=self.ctx.trace)

        def work():
            res = run_pipeline(spark, self.transcripts, cfg, store=store)
            return res, res.clusters.select("conv_id", "cluster_id").toPandas()

        with self.ctx.tracer.span(f"unit.{kind}"):
            (res, clusters), wall, cpu = _timed(work)
            u = Unit(kind, wall, cpu, parts=dict(res.stage_wall))
            if self.ctx.corrupt and kind == "cold":
                # merge the two smallest-id clusters: the check must fail
                ids = sorted(clusters["cluster_id"].unique())[:2]
                clusters.loc[clusters["cluster_id"] == ids[1], "cluster_id"] = ids[0]
            with self.ctx.tracer.span("check"):
                u.problems, _ = check_clusters(clusters, self.truth, self.expect)
                u.failed = int(bool(u.problems))
            if self.ctx.trace and kind == "cold":
                self._trace_cold(res)
            res.release_transients()
        return u

    def unit(self, spark, kind: str) -> Unit:
        self.store = self._new_store()
        self.n_units += 1
        return self._pass(spark, kind, self.store)

    def steady_pass_s(self, steady: list[Unit]) -> float:
        return statistics.median(u.wall_s for u in steady)

    def trace_extras(self, spark) -> list[Unit]:
        """Layer measurements a traced run adds after its units: the
        query sweeps of __spark_entry__ (see QueryLayer)."""
        self.queries = QueryLayer(self.ctx)
        self.queries.prepare_inputs()
        self.queries.open_inputs(spark)
        return [self.queries.unit(spark, kind) for kind in ("cold", "steady")]

    def _trace_cold(self, res) -> None:
        """Stage windows, ratios and cluster-layer counts of the cold pass."""
        with self.ctx.tracer.span("layer_counts"):
            parent = self.ctx.tracer.current()
            self.windows = list(self.stage_windows)
            for s, lo, hi in self.windows:
                self.ctx.tracer.add(f"stage.{s}", lo, hi, parent)
            self.checkpoint.update(self._stats)
            walls = dict(res.stage_wall)
            # without a store the edges are lazy and computed inside the
            # clusters stage, whose wall then holds them
            walls["edges"] = walls.get("edges", 0.0) + walls.pop("edges_dropped", 0.0)
            n_pairs = res.pairs.count()
            self.layer = {
                "stage_wall": walls,
                "kept_ratio": res.edges.count() / n_pairs if n_pairs else 0.0,
                "cc_iterations": res.cc_iterations,
                # the union-find path (no iterations) has no pre-pass
                "forest_ratio": forest_ratio(res.edges) if res.cc_iterations else 0.0,
            }


class ERStoredWorkload(ERWorkload):
    """As ERWorkload, with a fresh StageStore for every unit: each pass
    commits every stage, and one snapshot per connected-components
    iteration, which forces the distributed star loop. A traced run
    then resumes once from the last unit's warehouse."""

    stored = True

    def trace_extras(self, spark) -> list[Unit]:
        """A resume: every stage read back from the last warehouse; its
        output must be correct, as the passes' were."""
        u = self._pass(spark, "resume", self.store)
        self.checkpoint["read_s"] = self._stats["read_s"]
        self.checkpoint["resume_s"] = u.wall_s
        return [u]


def forest_ratio(kept) -> float:
    """Edges the partition-local pre-pass of connected_components leaves,
    over the edges it is given: the program's own pre-pass, run again on
    the clusters stage's input, prepared as connected_components does."""
    from pyspark.sql import functions as F

    from entity_resolution__spark.operators.cluster import _local_forest_edges
    from entity_resolution__spark.plans.pipeline import ERConfig

    edges = (
        kept.filter(F.col("prob_match") >= F.lit(ERConfig().cluster_threshold))
        .select(F.col("id_left").alias("src"), F.col("id_right").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .localCheckpoint(eager=True)
    )
    n_in = edges.count()
    return _local_forest_edges(edges).count() / n_in if n_in else 0.0


class QueryLayer:
    """The HEADLINE queries of __spark_entry__ over the sf0.01 tables;
    one unit is a sweep over every query, each result collected to the
    driver and checked against its DuckDB-pinned hash. A traced er_100k
    run makes a cold and a steady sweep after its passes."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.names = TINY_QUERIES if ctx.tiny else QUERIES
        self.sf_dir = os.path.join(ctx.run_dir, "sf0.01")

    def prepare_inputs(self) -> None:
        """The run seed permutes every table's rows; each table stays one
        file of one row group, like the source tables."""
        import numpy as np
        import pyarrow.parquet as pq

        os.makedirs(self.sf_dir)
        rng = np.random.default_rng(self.ctx.seed)
        for fn in sorted(os.listdir(SF_DIR)):
            table = pq.read_table(os.path.join(SF_DIR, fn))
            table = table.take(rng.permutation(table.num_rows))
            pq.write_table(table, os.path.join(self.sf_dir, fn), row_group_size=max(1, table.num_rows))
        self.pins = expected()["queries_sf0.01"]
        self.value_hash = value_hash_fn()

    def open_inputs(self, spark) -> None:
        import __spark_entry__

        self.entry = __spark_entry__
        self.queries = __spark_entry__.queries()
        for fn in sorted(os.listdir(self.sf_dir)):
            spark.read.parquet(os.path.join(self.sf_dir, fn))

    def unit(self, spark, kind: str) -> Unit:
        # a sweep starts without the near-dup pair table an earlier sweep built
        getattr(self.entry, "_NEARDUP_CACHE", {}).clear()
        u = Unit(kind, 0.0, 0.0, attempted=0)
        with self.ctx.tracer.span(f"unit.{kind}"):
            for name in self.names:
                u.attempted += 1
                try:
                    with self.ctx.tracer.span(f"query.{name}"):
                        pdf, wall, cpu = _timed(
                            lambda: self.queries[name](spark, self.sf_dir).toPandas()
                        )
                except Exception:  # a query that raises is a failed unit
                    traceback.print_exc()
                    u.problems.append(f"{name}: raised")
                    u.failed += 1
                    continue
                u.wall_s += wall
                u.cpu_s += cpu
                u.parts[name] = wall
                if self.ctx.corrupt and kind == "cold" and name == self.names[0]:
                    pdf = pdf.iloc[1:]
                with self.ctx.tracer.span("check"):
                    problems = check_query(name, pdf, self.pins, self.value_hash)
                u.problems += problems
                u.failed += int(bool(problems))
        return u

    def query_medians(self, steady: list[Unit]) -> dict[str, float]:
        """Each query's median wall over the steady sweeps that ran it."""
        walls = {n: [u.parts[n] for u in steady if n in u.parts] for n in self.names}
        return {n: statistics.median(w) for n, w in walls.items() if w}


WORKLOADS = {
    "er_100k": ERWorkload,
    "er_stored_100k": ERStoredWorkload,
}
