"""Query-sweep benchmark: the headline gate queries plus connected
components at size.

Runs each HEADLINE query of ``__spark_entry__`` once, into a noop sink,
over $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), then times the
1.05M-edge chain through the connected-components star loop in a fresh
subprocess, and prints ONE JSON line:

  {"metric": "headline_queries_total", "value", "unit": "sec",
   "queries": {name: wall_sec}, "sf", "cc_atsize": {...}}

Both run at ``get_spark``'s default master, local[$SPARK_GRAFT_CPUS].
ER pass timing and N→4N scaling are measured by ``perfbench/`` (README,
"Running").

Usage: python bench.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from entity_resolution__spark.session import get_spark, stop_spark  # noqa: E402

HEADLINE = [
    "pricing_summary",
    "top_revenue",
    "window_order_rank",
    "events_hourly",
    "tokenize_stats",
    "exact_dedup",
    "minhash_signature",
    "ngram_neardup_pairs",
    "lang_quality",
    "embedding_topk",
    "knn_join",
    "simhash",
    "cc_clusters",
    "cohort_clusters",
    # round-6 corpus-hygiene family (repetition/quality/contamination
    # are the per-doc + broadcast-join shapes; kmv is the sketch path)
    "quality_gate",
    "contamination",
    "kmv_distinct",
]


def sweep(spark, sf_dir: str) -> dict:
    """Wall seconds of each HEADLINE query over ``sf_dir``, in order.

    Queries share entrymod's near-dup pair cache, so the first query
    that needs a pair table pays for it."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    queries = entrymod.queries()
    # warm the JVM codegen path once with the cheapest query, and the
    # Python-worker/Arrow path with a trivial pandas UDF — worker spinup
    # is a fixture cost, not a query property
    queries["tokenize_stats"](spark, sf_dir).count()

    # no type hints: `from __future__ import annotations` stringifies
    # them and the pandas UDF type inferrer cannot resolve them
    @pandas_udf("double")
    def _warm(x):
        return x * 1.0

    spark.range(100_000).repartition(
        spark.sparkContext.defaultParallelism
    ).select(F.sum(_warm(F.col("id").cast("double")))).collect()

    results: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.monotonic()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        results[name] = round(time.monotonic() - t0, 3)
        print(f"  {name}: {results[name]}s", file=sys.stderr, flush=True)
    return results


def run_cc_at_size(spark) -> dict:
    """≥1M synthetic chain edges through the large-star/small-star loop
    (driver finish disabled): wall and round count. Long chains bound
    the expected rounds at ~log2(chain length)."""
    from entity_resolution__spark.data.synth import make_chain_edges
    from entity_resolution__spark.operators.cluster import connected_components

    edges, n_edges, _ = make_chain_edges(spark)
    t0 = time.monotonic()
    res = connected_components(edges, local_threshold=0)
    n_roots = res.assignments.select("root").distinct().count()
    return {
        "edges": n_edges,
        "wall_sec": round(time.monotonic() - t0, 2),
        "iterations": res.iterations,
        "components": n_roots,
    }


def run_cc_at_size_subprocess() -> dict:
    """cc_atsize in a FRESH subprocess: measured in-session after the
    query sweep it ran 2.4× slower than standalone — heap pressure and
    accumulated checkpoint blocks from the sweep are not properties of
    the CC loop."""
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--cc-child"],
        capture_output=True, text=True, timeout=3600,
    )
    for line in (p.stdout or "").splitlines():
        if line.startswith("CCJSON "):
            return json.loads(line[len("CCJSON "):])
    raise RuntimeError(
        f"cc child failed rc={p.returncode}\n{(p.stderr or '')[-2000:]}"
    )


def main() -> None:
    if sys.argv[1:] == ["--cc-child"]:
        out = run_cc_at_size(get_spark("bench-cc"))
        stop_spark()
        print("CCJSON " + json.dumps(out), flush=True)
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    results = sweep(get_spark("bench"), sf_dir)
    stop_spark()
    cc_atsize = run_cc_at_size_subprocess()
    print(f"  cc_atsize: {cc_atsize}", file=sys.stderr, flush=True)
    print(json.dumps({
        "metric": "headline_queries_total",
        "value": round(sum(results.values()), 3),
        "unit": "sec",
        "queries": results,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cc_atsize": cc_atsize,
    }))


if __name__ == "__main__":
    main()
