"""Every package function, class, method and constant is reached from a
root, or kept on purpose; every defaulted parameter on the ER path is
set by some caller, or kept on purpose.

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

The parameter rule covers the modules the ER pipeline runs through
(`ER_PATH`). A parameter with a default there (a dataclass field with a
default counts) must be passed by some call outside `tests/`, by keyword
or by position; a call is matched by its callee's name alone, so this
check too can only err toward keeping. A value no caller sets is a
constant of the module that reads it, not a knob.

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


# The ER pipeline's modules: their defaulted parameters must each be set
# by a caller outside tests/, or sit on KEEP_PARAMS.
ER_PATH = (
    "plans/pipeline.py",
    "operators/canonicalize.py",
    "operators/blocking.py",
    "operators/pairs.py",
    "operators/saltjoin.py",
    "operators/score.py",
    "operators/constraints.py",
    "operators/cluster.py",
    "functions/features.py",
)

# Defaulted parameters no caller outside tests/ sets, kept on purpose, one
# reason each. The set of unset parameters must equal these keys.
KEEP_PARAMS = {
    "operators/saltjoin.py:capped_salted_self_join(n_salts)": "test_saltjoin's property test varies the salt count (2-4) to check the triangle join's pair set for any S; every production caller uses the default 8",
}


def _is_dataclass(node: ast.ClassDef) -> bool:
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if (f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)) == "dataclass":
            return True
    return False


def _signatures(tree: ast.Module):
    """(callee name, positional parameter names, defaulted parameter
    names) for every def in a module, nested ones included (a leading
    self/cls is not positional at a call), and for every dataclass,
    whose fields are its constructor's parameters."""
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            a = node.args
            pos = [x.arg for x in a.posonlyargs + a.args]
            if pos[:1] in (["self"], ["cls"]):
                pos = pos[1:]
            defaulted = pos[len(pos) - len(a.defaults):] if a.defaults else []
            defaulted += [x.arg for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            yield node.name, pos, defaulted
        elif isinstance(node, ast.ClassDef) and _is_dataclass(node):
            fields = [
                (s.target.id, s.value is not None)
                for s in node.body
                if isinstance(s, ast.AnnAssign) and isinstance(s.target, ast.Name)
            ]
            yield node.name, [f for f, _ in fields], [f for f, d in fields if d]


def _passes(call: ast.Call, pos: list[str], param: str) -> bool:
    """Whether a call sets `param`: by keyword, by a `**` splat, by
    position, or by a `*` splat that can reach its position."""
    if any(k.arg in (param, None) for k in call.keywords):  # None: **kwargs
        return True
    if any(isinstance(a, ast.Starred) for a in call.args):
        return param in pos
    return param in pos[: len(call.args)]


def unset_params() -> set[str]:
    """`module:callee(param)` for every defaulted parameter on the ER path
    that no call in the package or a root passes."""
    callers = ROOTS + [
        os.path.relpath(p, REPO)
        for p in sorted(glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True))
    ]
    calls: dict[str, list[ast.Call]] = {}
    for rel in callers:
        for n in ast.walk(_parse(rel)):
            if isinstance(n, ast.Call):
                f = n.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                calls.setdefault(name, []).append(n)

    out = set()
    for rel in ER_PATH:
        for name, pos, defaulted in _signatures(_parse(os.path.join(PKG, rel))):
            for param in defaulted:
                if not any(_passes(c, pos, param) for c in calls.get(name, [])):
                    out.add(f"{rel}:{name}({param})")
    return out


def test_every_er_parameter_is_set_by_a_caller_or_kept():
    unset = unset_params()
    assert unset - set(KEEP_PARAMS) == set(), (
        "defaulted parameters no caller outside tests/ sets (make them module "
        "constants, or add them to KEEP_PARAMS with a reason): "
        + ", ".join(sorted(unset - set(KEEP_PARAMS)))
    )
    assert set(KEEP_PARAMS) - unset == set(), (
        "KEEP_PARAMS entries that a caller sets or that are gone (remove them): "
        + ", ".join(sorted(set(KEEP_PARAMS) - unset))
    )
    assert all(reason.strip() for reason in KEEP_PARAMS.values())


def test_parameter_rule_matches_keywords_positions_and_splats():
    src = """
def f(a, b=1, *, c=2):
    pass

class K:
    def m(self, x=0):
        pass

@dataclass
class C:
    a: int
    b: int = 1
    c = 2
"""
    sigs = {name: (pos, d) for name, pos, d in _signatures(ast.parse(src))}
    assert sigs == {
        "f": (["a", "b"], ["b", "c"]),
        "m": (["x"], ["x"]),
        "C": (["a", "b"], ["b"]),
    }

    def sets(call: str, param: str, pos=("a", "b")) -> bool:
        return _passes(ast.parse(call).body[0].value, list(pos), param)

    assert sets("f(0, 1)", "b") and sets("f(0, b=1)", "b") and sets("f(c=1)", "c")
    assert sets("f(*xs)", "b") and sets("f(**kw)", "c")
    assert not sets("f(0)", "b") and not sets("f(0, 1)", "c") and not sets("f(*xs)", "c")
