"""Guard against settable values that nothing sets.

Every defaulted parameter of a uniquely named function defined in
``stglib_spark/`` outside ``streaming/`` must be set by at least one call
somewhere in the package (the streaming twins included), ``tests/``,
``tools/``, ``perfbench/``, ``bench.py`` or ``__spark_entry__.py``. A
value no caller
sets is fixed behaviour and belongs in the body, not the signature. The
few exceptions are listed with their reason. Pure AST, no Spark.
"""

from __future__ import annotations

import ast
import collections
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: (module, function, parameter) → why it stays settable with no caller
ALLOWED_UNSET = {
    ("stglib_spark/operators/dedup.py", "minhash_lsh_pairs", "observation"):
        "counted oversize-bucket drops, the hook for measured bucket guards",
    ("stglib_spark/operators/multimodal.py", "phash_near_pairs", "observation"):
        "counted oversize-bucket drops, the hook for measured bucket guards",
    ("stglib_spark/operators/multimodal.py", "video_phash_near_pairs",
     "observation"):
        "counted oversize-bucket drops, the hook for measured bucket guards",
    ("stglib_spark/operators/waves.py", "puv_quick_np",
     "first_frequency_cutoff"):
        "mirrors the reference puv_quick signature",
    ("stglib_spark/operators/waves.py", "puv_quick_np",
     "infra_gravity_cutoff"):
        "mirrors the reference puv_quick signature",
    ("stglib_spark/operators/waves.py", "puv_quick_np",
     "last_frequency_cutoff"):
        "mirrors the reference puv_quick signature",
    ("stglib_spark/operators/waves.py", "puv_quick_np", "rho"):
        "mirrors the reference puv_quick signature",
}


def _py_files(*parts: str) -> list[str]:
    root = os.path.join(REPO, *parts)
    if root.endswith(".py"):
        return [root]
    return sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".py")
    )


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def _defaulted(fn: ast.FunctionDef) -> list[tuple[int | None, str]]:
    """(positional index or None for keyword-only, name) per defaulted
    parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    out = [
        (i, p.arg)
        for i, p in enumerate(pos)
        if i >= len(pos) - len(a.defaults)
    ]
    out += [
        (None, p.arg)
        for p, d in zip(a.kwonlyargs, a.kw_defaults)
        if d is not None
    ]
    return out


def unset_defaulted_params() -> set[tuple[str, str, str]]:
    callers = (
        _py_files("stglib_spark")
        + _py_files("tests")
        + _py_files("tools")
        + _py_files("perfbench")
        + _py_files("bench.py")
        + _py_files("__spark_entry__.py")
    )
    trees = {path: _parse(path) for path in callers}
    n_defs = collections.Counter(
        n.name
        for tree in trees.values()
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    )
    # per function name: keywords set, the most positionals one call
    # passes, and whether a call passes *args/**kwargs (sets everything)
    keywords: dict[str, set[str]] = collections.defaultdict(set)
    max_pos: collections.Counter[str] = collections.Counter()
    starred: set[str] = set()
    for tree in trees.values():
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            func, args = call.func, call.args
            if getattr(func, "id", None) == "partial" and args:
                func, args = args[0], args[1:]
            name = getattr(func, "id", None) or getattr(func, "attr", None)
            if name is None:
                continue
            if any(isinstance(a, ast.Starred) for a in args) or any(
                k.arg is None for k in call.keywords
            ):
                starred.add(name)
            keywords[name].update(k.arg for k in call.keywords if k.arg)
            max_pos[name] = max(max_pos[name], len(args))
    unset = set()
    for path, tree in trees.items():
        rel = os.path.relpath(path, REPO)
        if not rel.startswith("stglib_spark/") or "/streaming/" in rel:
            continue
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef) or n_defs[fn.name] != 1:
                continue
            if fn.name in starred:
                continue
            pos = fn.args.posonlyargs + fn.args.args
            # a bound method's receiver fills ``self``
            bound = 1 if pos and pos[0].arg in ("self", "cls") else 0
            for idx, param in _defaulted(fn):
                if param in keywords[fn.name]:
                    continue
                if idx is not None and max_pos[fn.name] + bound > idx:
                    continue
                unset.add((rel, fn.name, param))
    return unset


def test_every_defaulted_parameter_has_a_caller():
    unset = unset_defaulted_params()
    assert unset - set(ALLOWED_UNSET) == set(), (
        "defaulted parameters no caller sets — make them fixed behaviour"
    )
    assert set(ALLOWED_UNSET) - unset == set(), (
        "allowlisted parameters now set by a caller — drop them from "
        "ALLOWED_UNSET"
    )
