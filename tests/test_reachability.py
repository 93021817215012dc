"""Reachability gate: every top-level def or class in ``core_spark`` is called
from a root, or is a named reference model or test helper.

Roots are the code that runs outside the test suite: ``__spark_entry__.py``
(the query registry), ``bench.py``, ``scripts/*.py``, ``perfbench/*.py``, and
the module-level code of every ``core_spark`` module except its imports. A
def is live when a root or a live def names it. Names are NAME tokens from
``tokenize`` plus the names in f-string replacement fields, so docstrings,
comments and plain strings do not count as uses. A use counts only in the
def's own module or in a file that imports that module (absolute or
relative, at top level or inside a function), so a name that two modules
share does not keep both alive.

A def that only tests call fails the gate: delete it, wire it to a root, or
add it to ``TEST_ONLY`` with the reason it stays.

The method rule does the same inside live classes: a method whose name
(dunders aside) no root, no live def and no module-level code uses fails
the gate as "module.Class.method". Methods are called on instances whose
module the caller need not import, so here any live code counts, in any
file. A name counts where it is used, not where a ``def`` or ``class``
statement binds it.

The mode rule does the same for the branches inside live code. A mode
parameter is a defaulted parameter of a function in a live def (the def
itself, a class's methods, nested defs) whose default is a bool, or is None
or a string and whose name the test of an ``if``, ``elif``, ``while`` or
conditional expression in that function reads (an ``if`` that only raises,
with no ``else``, is a guard and does not count). Across every call in a
root or a live def that may reach it (the same scope rule as for defs), a
mode must take at least two values: an omitted argument gives the default,
a literal or an ALL_CAPS name gives itself, and any other argument (a
variable, ``*args``, ``**kw``) varies and passes. A mode that roots give
one value runs its other branches only in tests: delete them, or add it to
``ONE_VALUE_MODES`` with the reason they stay.
"""

from __future__ import annotations

import ast
import os
import re
import time
import tokenize
from types import MappingProxyType

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Defs no root reaches, kept on purpose: "module.name" -> why it stays.
TEST_ONLY: dict[str, str] = {
    "functions.geohash.geohash_py": "reference model of the SQL geohash",
    "functions.geometry.haversine_m": "reference distance for the kNN goldens",
    "functions.geometry.point_in_ring": "scalar reference ray cast",
    "functions.geometry.points_in_ring": "vectorized reference ray cast for match_points",
    "functions.geometry.wkt_to_ring": "test helper: polygon WKT -> ring",
    "functions.hexgrid.cell_to_center": "numpy reference of the hexgrid SQL",
    "functions.hexgrid.cell_to_children": "numpy reference of the hexgrid SQL",
    "functions.hexgrid.cell_to_parent": "numpy reference of the hexgrid SQL",
    "functions.hexgrid.edge_length_m": "numpy reference of the hexgrid SQL",
    "functions.hexgrid.kring": "numpy reference of the hexgrid SQL",
    "functions.jstest.count_tests": "reference-parity helper of parse_js_tests",
    "functions.jstest.detect_language": "reference-parity helper of parse_js_tests",
    "functions.jstest.format_each_name": "reference-parity helper of parse_js_tests",
    "functions.s2.cell_center_latlon": "numpy reference of the S2 SQL",
    "functions.s2.contains": "numpy reference of the S2 SQL",
    "functions.s2.face_uv_to_xyz": "helper of cell_center_latlon",
    "functions.s2.level_of": "numpy reference of the S2 SQL",
    "functions.s2.range_max": "numpy reference of the S2 SQL",
    "functions.s2.range_min": "numpy reference of the S2 SQL",
    "functions.s2.st_to_uv": "numpy reference of the S2 SQL",
    "operators.bloomadmit.merge_bloom_words": "mergeability property of bloom_words",
    "operators.c4clean.sql_c4_clean": "DuckDB twin of clean_steps",
    "operators.cardsketch.estimate_distinct": "driver-side estimate from the oracled integers",
    "operators.cardsketch.hll_estimate": "driver-side estimate from the oracled integers",
    "operators.cardsketch.hll_registers": "mergeability property of the HLL sketch",
    "operators.cardsketch.merge_hll_registers": "mergeability property of the HLL sketch",
    "operators.cmsketch.merge_cms": "mergeability property of the count-min sketch",
    "operators.dedup.lsh_recall_bound": "analytic bound the LSH recall tests check",
    "operators.dedup.simhash64": "pure kernel of the SimHash property tests",
    "operators.detect.lang_col": "test helper of the 22-framework detect test",
    "operators.gopherrules.sql_gopher_gate": "DuckDB twin of gopher_steps",
    "operators.hilbert.hilbert_d2xy_py": "reference inverse walk for the adjacency test",
    "operators.hilbert.hilbert_py": "reference model of the SQL Hilbert key",
    "operators.knn.guaranteed_radius_m": "analytic bound the kNN tests check",
    "operators.knn.knn_bruteforce_pandas": "reference model for the kNN goldens",
    "operators.linkgraph.hits_bound": "analytic bound the HITS tests check",
    "operators.redirects.sql_resolve_redirects": "DuckDB oracle of resolve_redirects",
    "sources.deltalake.DeltaFixtureWriter.clean_log":
        "builds the cleaned-log state the reader's checkpoint-only replay is tested on",
}

#: Mode parameters that roots give one value, kept on purpose:
#: "module.def.param" -> why the other values stay.
ONE_VALUE_MODES = MappingProxyType({
    "functions.jpeg.encode_jpeg.subsample": "writes the decoder's 4:2:0 test fixtures",
    "sources.avrolite.write_avro_file.codec":
        "writes the null-codec files the reader must accept from other writers",
})


def _py_files(top: str, recurse: bool = True) -> list[str]:
    out = []
    for dirpath, dirs, files in os.walk(top):
        dirs[:] = sorted(d for d in dirs if recurse and not d.startswith((".", "__")))
        out += [os.path.join(dirpath, fn) for fn in sorted(files) if fn.endswith(".py")]
    return out


def _names(path: str) -> list[tuple[int, str]]:
    """(line, name) of every NAME token in ``path`` except the name a ``def``
    or ``class`` statement binds, and of every name in an f-string's
    replacement fields (one STRING token before Python 3.12)."""
    out = []
    prev = None
    with open(path, "rb") as fh:
        for t in tokenize.tokenize(fh.readline):
            if t.type == tokenize.NAME and prev not in ("def", "class"):
                out.append((t.start[0], t.string))
            elif t.type == tokenize.STRING and "f" in re.match(r"\w*", t.string)[0].lower():
                out += [(t.start[0], n.id if isinstance(n, ast.Name) else n.attr)
                        for n in ast.walk(ast.parse(t.string, mode="eval"))
                        if isinstance(n, (ast.Name, ast.Attribute))]
            prev = t.string
    return out


def _module(path: str) -> str:
    """``core_spark/operators/dedup.py`` -> "operators.dedup" (a package's
    ``__init__.py`` is the package itself)."""
    parts = os.path.relpath(path, os.path.join(ROOT, "core_spark"))[:-3].split(os.sep)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imports(tree: ast.Module, path: str, modules: set[str]) -> set[str]:
    """The ``core_spark`` modules that ``path`` imports anywhere in its body."""
    if path.startswith(os.path.join(ROOT, "core_spark") + os.sep):
        package = _module(path) if path.endswith("__init__.py") else _module(path).rpartition(".")[0]
    else:
        package = None
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out |= {a.name.removeprefix("core_spark.") for a in node.names
                    if a.name.startswith("core_spark.")}
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                if package is None:
                    continue
                parts = package.split(".") if package else []
                base = ".".join(parts[:len(parts) + 1 - node.level] + [node.module or ""]).strip(".")
            elif node.module == "core_spark" or (node.module or "").startswith("core_spark."):
                base = node.module.removeprefix("core_spark").removeprefix(".")
            else:
                continue
            out.add(base)
            out |= {f"{base}.{a.name}".lstrip(".") for a in node.names}
    return out & modules


_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _methods(tree: ast.Module, module: str) -> dict[str, list[str]]:
    """{"module.Class": its methods' names, dunders aside} for top-level classes."""
    return {f"{module}.{node.name}": [f.name for f in node.body if isinstance(f, _FUNCS)
                                      and not (f.name.startswith("__") and f.name.endswith("__"))]
            for node in tree.body if isinstance(node, ast.ClassDef)}


def _defs(path: str, tree: ast.Module) -> tuple[dict[str, set[str]], set[str]]:
    """({"module.name": names its body uses}, names module-level code uses).

    A decorated def's span starts at its first decorator. Import statements
    are not uses: a name counts only where the code that imports it uses it.
    """
    module = _module(path)
    owner: dict[int, str | None] = {}
    defs: dict[str, set[str]] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            key = f"{module}.{node.name}"
            defs[key] = set()
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            key = None
        else:
            continue
        first = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])])
        owner.update(dict.fromkeys(range(first, node.end_lineno + 1), key))
    module_level = set()
    for line, name in _names(path):
        key = owner.get(line, "")  # "": module-level code, None: an import
        if key:
            defs[key].add(name)
        elif key == "":
            module_level.add(name)
    return defs, module_level


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _roots() -> list[str]:
    return [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, "bench.py")] \
        + _py_files(os.path.join(ROOT, "scripts"), recurse=False) \
        + _py_files(os.path.join(ROOT, "perfbench"), recurse=False)


def _live() -> tuple[set[str], set[str], set[str]]:
    """(every top-level ``core_spark`` def, those a root reaches, as
    "module.name"; the methods of the reached classes whose name no reached
    code uses, as "module.Class.method")."""
    lib = _py_files(os.path.join(ROOT, "core_spark"))
    modules = {_module(path) for path in lib}
    # (names used, modules whose defs those names may reach): one per root
    # file, one per core_spark module's top-level code, one per def
    todo: list[tuple[set[str], set[str]]] = []
    for path in _roots():
        todo.append(({name for _, name in _names(path)}, _imports(_parse(path), path, modules)))
    uses: dict[str, tuple[set[str], set[str]]] = {}
    by_name: dict[str, list[str]] = {}
    methods: dict[str, list[str]] = {}
    for path in lib:
        tree = _parse(path)
        scope = _imports(tree, path, modules) | {_module(path)}
        defs, module_level = _defs(path, tree)
        methods.update(_methods(tree, _module(path)))
        uses.update({key: (names, scope) for key, names in defs.items()})
        todo.append((module_level, scope))
        for key in defs:
            by_name.setdefault(key.rsplit(".", 1)[1], []).append(key)
    live: set[str] = set()
    used: set[str] = set()  # every name that reached code uses
    while todo:
        names, scope = todo.pop()
        used |= names
        for name in names:
            for key in by_name.get(name, ()):
                if key not in live and key.rsplit(".", 1)[0] in scope:
                    live.add(key)
                    todo.append(uses[key])
    unused = {f"{cls}.{m}" for cls in live & set(methods) for m in methods[cls] if m not in used}
    return set(uses), live, unused


def unreached() -> set[str]:
    """Top-level ``core_spark`` defs that no root reaches ("module.name") and
    methods of reached classes that nothing reached names ("module.Class.method")."""
    defs, live, unused = _live()
    return defs - live | unused


def _tested(fn: ast.AST) -> set[str]:
    """Names read by the tests of the ``if``, ``elif``, ``while`` and
    conditional expressions in ``fn``, except the test of an ``if`` whose
    body only raises and that has no ``else`` (a guard)."""
    tests = [n.test for n in ast.walk(fn)
             if isinstance(n, (ast.While, ast.IfExp)) or isinstance(n, ast.If)
             and (n.orelse or not all(isinstance(s, ast.Raise) for s in n.body))]
    return {n.id for t in tests for n in ast.walk(t) if isinstance(n, ast.Name)}


def _value(node: ast.expr) -> str | None:
    """The value an argument gives a mode: a literal or an ALL_CAPS name
    stands for itself; anything else varies (None)."""
    if isinstance(node, ast.Name):
        return node.id if node.id.isupper() else None
    try:
        return repr(ast.literal_eval(node))
    except (ValueError, TypeError):
        return None


def _modes(node: ast.AST, key: str) -> list[tuple[str, str, str, int | None, str]]:
    """(key, callee name, parameter, positional index, default) of each mode
    parameter of the functions in top-level def ``node``: a parameter whose
    default is a bool, or is None or a string and which the test of a branch
    in its function reads. The callee of ``__init__`` is its class; a
    method's ``self`` takes no index; a keyword-only parameter has index
    None."""
    methods = {id(f): node.name for f in (node.body if isinstance(node, ast.ClassDef) else ())
               if isinstance(f, _FUNCS)
               and not any(getattr(d, "id", None) == "staticmethod" for d in f.decorator_list)}
    out = []
    for fn in (n for n in ast.walk(node) if isinstance(n, _FUNCS)):
        a = fn.args
        positional = [x.arg for x in a.posonlyargs + a.args]
        defaults = dict(zip(positional[len(positional) - len(a.defaults):], a.defaults))
        defaults.update((x.arg, d) for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None)
        bound = positional[1:] if id(fn) in methods else positional
        callee = methods[id(fn)] if fn.name == "__init__" and id(fn) in methods else fn.name
        prefix = key if fn is node else f"{key}.{fn.name}"
        tested = _tested(fn)
        out += [(f"{prefix}.{p}", callee, p, bound.index(p) if p in bound else None, _value(d))
                for p, d in defaults.items()
                if isinstance(d, ast.Constant) and (
                    isinstance(d.value, bool)
                    or (d.value is None or isinstance(d.value, str)) and p in tested)]
    return out


def _arg(call: ast.Call, param: str, index: int | None) -> ast.expr | None:
    """The argument ``call`` passes for ``param`` (a ``*args`` or ``**kw``
    may hold it), or None when the call omits it."""
    for k in call.keywords:
        if k.arg in (param, None):
            return k.value
    for i, x in enumerate(call.args):
        if isinstance(x, ast.Starred) or i == index:
            return x
    return None


def one_value_modes() -> dict[str, set[str]]:
    """Mode parameters of live ``core_spark`` functions that every call in a
    root or a live def gives the same value (or that no such call reaches),
    as {"module.def.param": the values they take}. An omitted argument gives
    the default; a literal or an ALL_CAPS name gives itself; any other
    argument varies, and a mode it reaches passes."""
    _, live, _ = _live()
    lib = _py_files(os.path.join(ROOT, "core_spark"))
    modules = {_module(path) for path in lib}
    modes = []  # (key, module, callee name, parameter, positional index, default)
    calls: dict[str, list[tuple[set[str], ast.Call]]] = {}  # callee name -> (scope, call)

    def add_calls(node, scope):
        for call in (n for n in ast.walk(node) if isinstance(n, ast.Call)):
            name = getattr(call.func, "id", None) or getattr(call.func, "attr", None)
            calls.setdefault(name, []).append((scope, call))

    for path in lib:
        tree, module = _parse(path), _module(path)
        scope = _imports(tree, path, modules) | {module}
        for node in tree.body:
            if isinstance(node, (*_FUNCS, ast.ClassDef)):
                if f"{module}.{node.name}" not in live:
                    continue
                modes += [(key, module, *rest) for key, *rest in _modes(node, f"{module}.{node.name}")]
            add_calls(node, scope)
    for path in _roots():
        tree = _parse(path)
        add_calls(tree, _imports(tree, path, modules))
    out = {}
    for key, module, callee, param, index, default in modes:
        values = set()
        for scope, call in calls.get(callee, ()):
            if module in scope:
                arg = _arg(call, param, index)
                values.add(default if arg is None else _value(arg))
        if None not in values and len(values) < 2:
            out[key] = values
    return out


def test_only_listed_defs_are_unreached():
    t = time.perf_counter()
    dead = unreached()
    assert time.perf_counter() - t < 5.0
    new = sorted(dead - set(TEST_ONLY))
    stale = sorted(set(TEST_ONLY) - dead)
    assert not new, f"defs that only tests reach (delete them or wire them to a root): {new}"
    assert not stale, f"TEST_ONLY entries that a root now reaches or that are gone: {stale}"


def test_every_mode_takes_two_values():
    t = time.perf_counter()
    fixed = one_value_modes()
    assert time.perf_counter() - t < 5.0
    new = {key: sorted(fixed[key]) for key in sorted(set(fixed) - set(ONE_VALUE_MODES))}
    stale = sorted(set(ONE_VALUE_MODES) - set(fixed))
    assert not new, f"modes that roots give one value or none (delete the others' branches): {new}"
    assert not stale, f"ONE_VALUE_MODES entries that roots now vary or that are gone: {stale}"
