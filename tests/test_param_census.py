"""Guard against settable values that nothing sets, and against
functions that nothing calls.

Every defaulted parameter of a uniquely named function defined in
``stglib_spark/`` outside ``streaming/`` must be set by at least one call
somewhere in the package (the streaming twins included), ``tests/``,
``tools/``, ``perfbench/``, ``bench.py`` or ``__spark_entry__.py``. A
value no caller
sets is fixed behaviour and belongs in the body, not the signature.

Every top-level function and public method defined there must be
referenced, by name or by a string equal to its name, from outside
``tests/`` and outside its own body; a function registered by a
decorator is reached through its registry. Code that only tests reach
is dead weight that still has to be read and kept working.

The few exceptions are listed with their reason. Pure AST, no Spark.
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

#: (module, function or Class.method) → why it stays with only tests
#: calling it
ALLOWED_TEST_ONLY = {
    ("stglib_spark/functions/media.py", "encode_ppm"):
        "encoder the PPM decoder tests run against",
    ("stglib_spark/operators/physics.py", "spcon_from_salinity"):
        "round-trip inverse of salinity_from_spcon in the golden tests",
    ("stglib_spark/operators/qaqc.py", "QaqcResult.audit_counts"):
        "batch reference of the streaming audit tests",
    ("stglib_spark/operators/transforms.py", "enu2beam_columns"):
        "round-trip inverse of beam2enu_columns in the golden and "
        "property tests",
}

#: every place a caller may live, apart from ``tests/``
CALLER_ROOTS = (
    "stglib_spark", "tools", "perfbench", "bench.py", "__spark_entry__.py",
)

#: decorators that put a function in a registry, where it is looked up
REGISTERING = {"register", "register_adapter"}


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
    callers = [p for root in (*CALLER_ROOTS, "tests") for p in _py_files(root)]
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


def _references(node: ast.AST) -> collections.Counter[str]:
    """Names, attribute names and string constants under ``node``."""
    out: collections.Counter[str] = collections.Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out[n.value] += 1
    return out


def uncalled_functions() -> set[tuple[str, str]]:
    trees = {p: _parse(p) for root in CALLER_ROOTS for p in _py_files(root)}
    refs: collections.Counter[str] = collections.Counter()
    for tree in trees.values():
        refs.update(_references(tree))
    uncalled = set()
    for path, tree in trees.items():
        rel = os.path.relpath(path, REPO)
        if not rel.startswith("stglib_spark/") or "/streaming/" in rel:
            continue
        for node in tree.body:
            if isinstance(node, ast.FunctionDef):
                defs = [(node.name, node)]
            elif isinstance(node, ast.ClassDef):
                defs = [
                    (f"{node.name}.{m.name}", m)
                    for m in node.body
                    if isinstance(m, ast.FunctionDef)
                    and not m.name.startswith("_")
                ]
            else:
                continue
            for qualname, fn in defs:
                if any(
                    isinstance(d, ast.Call)
                    and getattr(d.func, "id", None) in REGISTERING
                    for d in fn.decorator_list
                ):
                    continue
                # a reference from the function's own body is no caller
                if refs[fn.name] == _references(fn)[fn.name]:
                    uncalled.add((rel, qualname))
    return uncalled


def test_every_function_has_a_caller_outside_tests():
    uncalled = uncalled_functions()
    assert uncalled - set(ALLOWED_TEST_ONLY) == set(), (
        "functions nothing outside tests calls — delete them with their "
        "tests, or allowlist a test reference with its reason"
    )
    assert set(ALLOWED_TEST_ONLY) - uncalled == set(), (
        "allowlisted functions now called outside tests (or gone) — drop "
        "them from ALLOWED_TEST_ONLY"
    )
