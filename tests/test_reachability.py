"""Every package function and class is reached from a root, or kept on purpose.

The roots are what runs the engine: `__spark_entry__.py` (the oracle
gate's entry and queries), `main.py`, `bench.py`, `perfbench/*.py` and
`tools/*.py`. Tests are not roots: code that only a test calls is dead.

The closure is over names, from the AST (comments and docstrings never
count): a top-level def or class of a package module is reached when its
name is referenced from a root or from the body of a reached def. A
module's own top-level statements (constants, decorators, defaults) run on
import, so they count as reached once any reached code names the module.
Names are matched without their module, so two defs that share a name keep
each other alive; the check can only err toward keeping code.

Stdlib only, no Spark.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "entity_resolution__spark"

ROOTS = (
    ["__spark_entry__.py", "main.py", "bench.py"]
    + sorted(os.path.relpath(p, REPO) for p in glob.glob(os.path.join(REPO, "perfbench", "*.py")))
    + sorted(os.path.relpath(p, REPO) for p in glob.glob(os.path.join(REPO, "tools", "*.py")))
)

# Unreached on purpose, one reason each. The set of unreached defs must
# equal these keys: a new entry needs a reason, and a def that becomes
# reached (or is deleted) must leave the list.
KEEP = {
    "plans/checkpoint.py:IcebergStageStore": "the Iceberg StageStore backend of the north_rule; it needs the Iceberg runtime jar, which no root loads",
    "data/synth.py:make_labeled_pairs": "the labeled-pairs fixture of the pairwise F1 gate",
    "functions/strings.py:lcs_len_dp": "the textbook DP reference the LCS kernels are tested against",
    "functions/strings.py:lcs_ratio": "the scalar LCS-ratio reference the LCS kernels are tested against",
    "plans/pipeline.py:cohort_seed_edges": "the reference pipeline's E3 cohort-seed edges (paper semantics)",
    "plans/pipeline.py:run_cohort_transitivity": "the reference pipeline's E3 cohort-transitivity output (paper semantics)",
    # Small tested helpers of the reference's analysis side, kept so this
    # diet stays within a bounded number of removed tests; next to go
    # unless a root starts to use them (ROADMAP direction 6).
    "functions/normalize.py:tokenize": "the Spark-column form of tokenize_series, pinned equal to it",
    "operators/blocking.py:blocking_quality": "reference B7 pair completeness and reduction ratio of a blocking",
    "operators/blocking.py:stopwords_by_idf": "reference B8 TF-IDF auto-stopwords",
    "operators/cluster.py:incremental_clusters": "folds a new edge batch into a prior CLUSTERS assignment without re-blocking",
    "operators/evaluate.py:f1_optimal_threshold": "reference M2 F1-optimal threshold sweep over scores",
    "operators/evaluate.py:pr_auc": "reference M4 average precision of scores",
    "operators/evaluate.py:roc_auc": "reference M4 rank AUC of scores",
    "operators/graph_export.py:_sym": "the symmetric edge list bfs_subgraph expands over",
    "operators/graph_export.py:bfs_subgraph": "reference G6 k-hop sampled subgraph",
    "operators/pairs.py:collapse_undirected_max": "reference B4 undirected max-collapse of scored pairs",
    "operators/saltjoin.py:dropped_hot_buckets": "audit of the buckets capped_salted_self_join drops",
    "operators/similarity.py:lsh_bucket_candidates": "random-hyperplane LSH near-neighbor candidates for embeddings",
    "operators/similarity.py:make_hyperplane_udf": "the hyperplane bucket UDF lsh_bucket_candidates keys on",
}


def _names(node) -> set[str]:
    """Every identifier a subtree references: names, attributes, import paths."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            if isinstance(n, ast.ImportFrom) and n.module:
                out.update(n.module.split("."))
            for a in n.names:
                out.update(a.name.split("."))
    return out


def _parse(rel: str) -> ast.Module:
    with open(os.path.join(REPO, rel), encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=rel)


def package_units():
    """({unit: referenced names}, {module name: module-body unit})."""
    units, modules = {}, {}
    for path in sorted(glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, os.path.join(REPO, PKG)).replace(os.sep, "/")
        tree = _parse(os.path.join(PKG, rel))
        body = []
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                units[f"{rel}:{node.name}"] = _names(node)
            else:
                body.append(node)
        stem = os.path.splitext(os.path.basename(rel))[0]
        mod = os.path.basename(os.path.dirname(rel)) if stem == "__init__" else stem
        units[f"{rel}:<module>"] = _names(ast.Module(body=body, type_ignores=[]))
        modules.setdefault(mod or PKG, []).append(f"{rel}:<module>")
    return units, modules


def unreached() -> set[str]:
    units, modules = package_units()
    by_name = {}
    for unit in units:
        name = unit.split(":", 1)[1]
        if name != "<module>":
            by_name.setdefault(name, []).append(unit)
    for mod, mod_units in modules.items():
        by_name.setdefault(mod, []).extend(mod_units)

    reached, frontier = set(), set()
    for rel in ROOTS:
        frontier |= _names(_parse(rel))
    seen_names = set()
    while frontier:
        name = frontier.pop()
        if name in seen_names:
            continue
        seen_names.add(name)
        for unit in by_name.get(name, ()):
            if unit not in reached:
                reached.add(unit)
                frontier |= units[unit] - seen_names
    return {u for u in units if u not in reached and not u.endswith(":<module>")}


def test_every_unreached_def_is_kept_on_purpose():
    dead = unreached()
    assert dead - set(KEEP) == set(), (
        "package defs no root reaches (delete them, or add them to KEEP with a reason): "
        + ", ".join(sorted(dead - set(KEEP)))
    )
    assert set(KEEP) - dead == set(), (
        "KEEP entries that are reached or gone (remove them from KEEP): "
        + ", ".join(sorted(set(KEEP) - dead))
    )
    assert all(reason.strip() for reason in KEEP.values())
