"""Every package function, class, method and constant is reached from a
root, or kept on purpose.

The roots are what runs the engine: `__spark_entry__.py` (the oracle
gate's entry and queries), `main.py`, `bench.py`, `perfbench/*.py` and
`tools/*.py`. Tests are not roots: code that only a test calls is dead.

The closure is over names, from the AST (comments and docstrings never
count): a top-level def, class or module-level constant of a package
module is reached when its name is referenced from a root or from the
body of reached code. A method is reached when its class is and its name
is referenced (dunders need only the class: Python calls them). A
module's other top-level statements (imports, calls, guarded blocks) run
on import, so they count as reached once any reached code names the
module. A name bound as a local of the function that uses it (an
argument, or an assignment, `for`, `with` or `except` target), or of an
enclosing function, is not a reference. Other names are matched without
their module, so two defs that share a name keep each other alive; the
check can only err toward keeping code.

Stdlib only, no Spark.
"""

from __future__ import annotations

import ast
import copy
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
    "functions/strings.py:edit_ratio": "the scalar indel-ratio reference the LCS kernels are tested against",
    "plans/pipeline.py:cohort_seed_edges": "the reference pipeline's E3 cohort-seed edges (paper semantics)",
}


_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)


def _bound(fn) -> tuple[set[str], set[str]]:
    """(locals, globals) of a function. Locals are its arguments and its
    own assignment, `for`, `with` and `except` targets (nested functions
    and classes have their own scopes), less the names it declares
    `global` or `nonlocal`; globals are the names it declares `global`.
    An `import` inside the function does not bind here: the imported
    name stays a reference."""
    a = fn.args
    out = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
    out |= {x.arg for x in (a.vararg, a.kwarg) if x is not None}
    declared, globs = set(), set()
    stack = [fn.body] if isinstance(fn, ast.Lambda) else list(fn.body)
    while stack:
        n = stack.pop()
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store):
            out.add(n.id)
        elif isinstance(n, ast.ExceptHandler) and n.name:
            out.add(n.name)
        elif isinstance(n, (ast.Global, ast.Nonlocal)):
            declared.update(n.names)
            if isinstance(n, ast.Global):
                globs.update(n.names)
        if not isinstance(n, _SCOPES + (ast.ClassDef,)):
            stack.extend(ast.iter_child_nodes(n))
    return out - declared, globs


def _names(node) -> set[str]:
    """Every identifier a subtree references: names, attributes, import
    paths. A name bound as a local of the function it appears in, or of
    an enclosing function, is that local, not a reference."""
    out = set()
    stack = [(node, frozenset())]
    while stack:
        n, local = stack.pop()
        if isinstance(n, _SCOPES):
            # the body sees the function's locals; decorators, defaults
            # and annotations are evaluated in the enclosing scope
            bound, globs = _bound(n)
            inner = (local - globs) | bound
            body = {id(c) for c in ([n.body] if isinstance(n, ast.Lambda) else n.body)}
            stack.extend(
                (c, inner if id(c) in body else local) for c in ast.iter_child_nodes(n)
            )
            continue
        if isinstance(n, ast.Name):
            if n.id not in local:
                out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            if isinstance(n, ast.ImportFrom) and n.module:
                out.update(n.module.split("."))
            for a in n.names:
                out.update(a.name.split("."))
        stack.extend((c, local) for c in ast.iter_child_nodes(n))
    return out


def _parse(rel: str) -> ast.Module:
    with open(os.path.join(REPO, rel), encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=rel)


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def _assigned(node) -> list[str]:
    """Names a module-level assignment binds (dunders excluded: they
    belong to the module, like `__all__`)."""
    targets = node.targets if isinstance(node, ast.Assign) else [node.target]
    return [
        n.id
        for t in targets
        for n in ast.walk(t)
        if isinstance(n, ast.Name) and not _is_dunder(n.id)
    ]


def package_units() -> dict[str, tuple[str, str | None, set[str]]]:
    """{unit: (name that reaches it, owning class unit or None, names it
    references)} over every package module.

    Units are top-level defs and classes, the methods of those classes,
    module-level constants, and each module's remaining top-level
    statements (`<module>`, reached by the module's name)."""
    units = {}
    for path in sorted(glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, os.path.join(REPO, PKG)).replace(os.sep, "/")
        tree = _parse(os.path.join(PKG, rel))
        body = []
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                units[f"{rel}:{node.name}"] = (node.name, None, _names(node))
            elif isinstance(node, ast.ClassDef):
                cls = f"{rel}:{node.name}"
                rest = []
                for item in node.body:
                    if isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        units[f"{cls}.{item.name}"] = (item.name, cls, _names(item))
                    else:
                        rest.append(item)
                shell = copy.copy(node)  # bases, decorators, class attributes
                shell.body = rest
                units[cls] = (node.name, None, _names(shell))
            elif isinstance(node, (ast.Assign, ast.AnnAssign)) and _assigned(node):
                for name in _assigned(node):
                    units[f"{rel}:{name}"] = (name, None, _names(node))
            else:
                body.append(node)
        stem = os.path.splitext(os.path.basename(rel))[0]
        mod = os.path.basename(os.path.dirname(rel)) if stem == "__init__" else stem
        units[f"{rel}:<module>"] = (
            mod or PKG, None, _names(ast.Module(body=body, type_ignores=[]))
        )
    return units


def unreached() -> set[str]:
    """Units no root reaches. A method is reached when its class is and
    its name is referenced (a dunder needs only its class); the methods
    of an unreached class are not listed apart from it."""
    units = package_units()
    seen = set()
    for rel in ROOTS:
        seen |= _names(_parse(rel))
    reached = set()
    grew = True
    while grew:
        grew = False
        for unit, (name, owner, refs) in units.items():
            if unit in reached or (owner is not None and owner not in reached):
                continue
            if name in seen or (owner is not None and _is_dunder(name)):
                reached.add(unit)
                seen |= refs
                grew = True
    return {
        unit
        for unit, (_, owner, _) in units.items()
        if unit not in reached
        and not unit.endswith(":<module>")
        and (owner is None or owner in reached)
    }


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


def test_locals_of_the_function_or_an_enclosing_one_are_not_references():
    src = """
def outer(arg, *rest, **kw):
    shadow = glob = 1
    for idx in range(3):
        pass
    with open(arg) as fh:
        pass
    try:
        pass
    except ValueError as err:
        pass
    def inner():
        global glob
        nonlocal shadow
        shadow = 2
        from pkg import imported
        return shadow, idx, fh, err, rest, kw, glob, imported, free
    return inner
"""
    got = _names(ast.parse(src))
    assert {"glob", "imported", "free", "range", "open", "ValueError"} <= got
    # a default is evaluated where the function is defined
    assert "deco" in _names(ast.parse("def f(deco=deco):\n    return deco"))
    assert not {"arg", "rest", "kw", "shadow", "idx", "fh", "err"} & got
