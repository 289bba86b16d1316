"""Every definition in the package is reached from a product root.

The roots are the registered queries (functions decorated with
``@register``), the CLI (``__main__.py``), ``bench.py``,
``__spark_entry__.py``, ``perfbench/`` and ``tools/``, plus every
module-level statement of the package that is not an import or a
definition (it runs at import time). The sweep is name-level: a
top-level function or class is reached when a reached body names it, as
a ``Name`` or as an ``Attribute``, in any module. Strings and docstrings
name nothing. Methods of package classes are swept the same way, keyed
by their own name: a reached class keeps its dunder methods, and any
other method is reached only when a reached body names it. That
over-approximates reachability, so whatever the sweep calls unreached
really has no caller on a product path.

The unreached set must equal ``ALLOWED``: a unit that no product path
runs is kept only as the reference a test compares a product path
against. Dead code that comes back fails the test, and so does an
allowlisted unit that gets wired in and should leave the list.

A second sweep holds imports to the same rule: every module-level
import in the package, ``tests/``, ``tools/``, ``bench.py`` and
``__spark_entry__.py`` binds a name its module uses (``__init__.py``
files are exempt: their imports are re-exports).

A third sweep holds options to it: every parameter with a default, in
any function or method of the package (nested ones included), must be
set by some call in a product-rooted body — the roots above plus the
bodies of reached definitions. A call sets a parameter by keyword, by
position (``self``/``cls`` skipped for a method called by attribute),
or through ``*args``/``**kwargs`` (which count as setting every
parameter); a call of a class sets its ``__init__``. Calls match
definitions by name, as in the first sweep. A default that only its
default reaches is a constant; the unset set must equal
``ALLOWED_DEFAULTS``, each entry with its reason.

Pure AST, no Spark session. Run alone with
``python -m pytest tests/test_reachability.py -q``.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "emission_project_spark"
ROOT_FILES = [ROOT / "bench.py", ROOT / "__spark_entry__.py", PACKAGE / "__main__.py"]
ROOT_DIRS = [ROOT / "perfbench", ROOT / "tools"]
IMPORT_SCOPE = [PACKAGE, ROOT / "tests", ROOT / "tools", ROOT / "bench.py", ROOT / "__spark_entry__.py"]

_PQ_TWIN = "tests/test_pq.py::test_ivfpq_expr_twin_matches_numpy_path"

# unit -> the test that uses it as the reference for a product path
ALLOWED: dict[str, str] = {
    **{
        f"extensions/pq.py:{name}": _PQ_TWIN
        for name in (
            "PQModel",
            "IVFPQModel",
            "fit_pq",
            "pq_encode",
            "pq_decode",
            "pq_topk",
            "fit_ivfpq",
            "ivfpq_encode",
            "ivfpq_topk",
            "_residuals",
            "_centroid_df",
        )
    },
    "plans/cohort_stats.py:_poisson_weight": (
        "tests/test_cohort_stats.py::test_poisson_lut_pins_all_three_ladders"
    ),
    "operators/joins.py:semi_join": (
        "tests/test_properties.py::test_anti_join_complements_semi"
    ),
    **{
        f"pipeline/emission.py:EmissionPipeline.{name}": (
            "tests/test_emission_pipeline.py::test_rollups"
        )
        for name in ("emission_by_brand", "emission_by_car", "emission_by_driver")
    },
}

_PQ_TWIN_DEFAULTS = {
    "fit_pq": ("dim", "m", "k", "iterations", "id_col", "vec_col"),
    "fit_ivfpq": ("dim", "n_cells", "m", "k", "iterations", "id_col", "vec_col"),
    "pq_encode": ("id_col", "vec_col"),
    "ivfpq_encode": ("id_col", "vec_col"),
    "pq_topk": ("k",),
    "ivfpq_topk": ("k", "n_probe"),
}

# "<path>:<function>(<param>)" -> why its default stays unset by product
ALLOWED_DEFAULTS: dict[str, str] = {
    "__main__.py:main(argv)": "the CLI entry: the console passes no argv, tests pass one",
    **{
        f"extensions/pq.py:{fn}({param})": f"numpy PQ twin, the reference of {_PQ_TWIN}"
        for fn, params in _PQ_TWIN_DEFAULTS.items()
        for param in params
    },
    "sources/warehouse.py:Warehouse.compact(partition_by)": (
        "the only way to compact the partitioned fact (ROADMAP direction 9)"
    ),
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)
_IMPORTS = (ast.Import, ast.ImportFrom)


def _names(nodes, aliases: dict[str, set[str]]) -> set[str]:
    """Every identifier the nodes refer to: ``Name`` ids, ``Attribute``
    attrs, and the source name of an ``import x as y``, whether the import
    sits in the nodes or at module level (``aliases``)."""
    out: set[str] = set()
    for node in nodes:
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                out.add(sub.id)
            elif isinstance(sub, ast.Attribute):
                out.add(sub.attr)
            elif isinstance(sub, ast.alias) and sub.asname:
                out.add(sub.name)
    return out.union(*(aliases.get(n, ()) for n in out))


def _import_time(node: ast.AST) -> list[ast.AST]:
    """The parts of a definition that run when its module loads."""
    if isinstance(node, ast.ClassDef):
        methods = [m for m in node.body if isinstance(m, _DEFS)]
        return [*node.decorator_list, *node.bases, *node.keywords,
                *(part for m in methods for part in _import_time(m))]
    args = node.args
    return [*node.decorator_list, *args.defaults, *(d for d in args.kw_defaults if d)]


def _units(unit: str, node: ast.AST):
    """``(name, label, body)`` of a top-level definition and, for a class,
    of each of its non-dunder methods, which the class body leaves out."""
    if not isinstance(node, ast.ClassDef):
        yield node.name, f"{unit}:{node.name}", [node]
        return
    own = []
    for part in node.body:
        if isinstance(part, _DEFS) and not part.name.startswith("__"):
            yield part.name, f"{unit}:{node.name}.{part.name}", [part]
        else:
            own.append(part)
    yield node.name, f"{unit}:{node.name}", own


def _is_query(node: ast.AST) -> bool:
    for deco in node.decorator_list:
        target = deco.func if isinstance(deco, ast.Call) else deco
        if isinstance(target, ast.Name) and target.id == "register":
            return True
    return False


def _graph():
    """``(defs, roots, reached)``: every unit's ``(label, body)`` by
    name, the product roots, and the names the sweep reaches from them."""
    defs: dict[str, list[tuple[str, list[ast.AST]]]] = {}
    roots: list[ast.AST] = []
    aliases: dict[str, set[str]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        if path in ROOT_FILES:
            continue
        tree = ast.parse(path.read_text(), str(path))
        unit = path.relative_to(PACKAGE).as_posix()
        for node in tree.body:
            if isinstance(node, _DEFS):
                roots.extend(_import_time(node))
                if _is_query(node):
                    roots.append(node)
                else:
                    for name, label, body in _units(unit, node):
                        defs.setdefault(name, []).append((label, body))
            elif isinstance(node, _IMPORTS):
                for a in node.names:
                    if a.asname:
                        aliases.setdefault(a.asname, set()).add(a.name)
            else:
                roots.append(node)
    root_paths = ROOT_FILES + [p for d in ROOT_DIRS for p in sorted(d.rglob("*.py"))]
    roots.extend(ast.parse(p.read_text(), str(p)) for p in root_paths)

    reached: set[str] = set()
    frontier = _names(roots, aliases) & defs.keys()
    while frontier:
        reached |= frontier
        bodies = [part for name in frontier for _, body in defs[name] for part in body]
        frontier = (_names(bodies, aliases) & defs.keys()) - reached
    return defs, roots, reached


def unreached() -> set[str]:
    """``"<path under the package>:<name>"`` of every unreached definition
    (``<class>.<method>`` for a method)."""
    defs, _, reached = _graph()
    return {
        label for name, units in defs.items() if name not in reached for label, _ in units
    }


def test_unreached_definitions_are_the_test_references():
    dead = unreached()
    assert sorted(dead - ALLOWED.keys()) == [], "no product path reaches these"
    assert sorted(ALLOWED.keys() - dead) == [], "now reached: drop from ALLOWED"


def _defaulted(node: ast.AST, unit: str, prefix: str = "", method: bool = False):
    """``(name, label, position, param)`` of every parameter with a
    default in the functions under ``node``; ``position`` is the index a
    positional argument fills (None for keyword-only)."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, ast.ClassDef):
            yield from _defaulted(child, unit, f"{prefix}{child.name}.", True)
        elif isinstance(child, _FUNCS):
            args = child.args
            positional = args.posonlyargs + args.args
            static = any(
                isinstance(d, ast.Name) and d.id == "staticmethod" for d in child.decorator_list
            )
            skip = int(method and not static)
            first = len(positional) - len(args.defaults)
            label = f"{unit}:{prefix}{child.name}"
            for i, a in enumerate(positional[first:], first):
                yield child.name, f"{label}({a.arg})", i - skip, a.arg
            for a, d in zip(args.kwonlyargs, args.kw_defaults):
                if d is not None:
                    yield child.name, f"{label}({a.arg})", None, a.arg
            yield from _defaulted(child, unit, f"{prefix}{child.name}.")
        else:
            yield from _defaulted(child, unit, prefix, method)


def unset_defaults() -> set[str]:
    """``"<path under the package>:<function>(<param>)"`` of every
    defaulted parameter that no product-rooted call sets."""
    params: dict[str, list[tuple[str, int | None, str]]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        unit = path.relative_to(PACKAGE).as_posix()
        for name, label, pos, param in _defaulted(ast.parse(path.read_text(), str(path)), unit):
            params.setdefault(name, []).append((label, pos, param))
    defs, roots, reached = _graph()
    product = [*roots, *(part for name in reached for _, body in defs[name] for part in body)]
    unset = {label for entries in params.values() for label, _, _ in entries}
    for node in product:
        for call in ast.walk(node):
            if not isinstance(call, ast.Call):
                continue
            func = call.func
            name = getattr(func, "id", None) or getattr(func, "attr", None)
            if name is None:
                continue
            targets = params.get(name, []) + (params.get("__init__", []) if name[0].isupper() else [])
            spread = any(isinstance(a, ast.Starred) for a in call.args) or any(
                k.arg is None for k in call.keywords
            )
            keywords = {k.arg for k in call.keywords}
            for label, pos, param in targets:
                if spread or param in keywords or (pos is not None and pos < len(call.args)):
                    unset.discard(label)
    return unset


def test_every_default_has_a_product_caller():
    unset = unset_defaults()
    assert sorted(unset - ALLOWED_DEFAULTS.keys()) == [], "no product call sets these: make them constants"
    assert sorted(ALLOWED_DEFAULTS.keys() - unset) == [], "now set by product: drop from ALLOWED_DEFAULTS"


def unused_imports() -> list[str]:
    """``"<path>:<line> <name>"`` of every module-level import whose
    bound name its module never reads as a ``Name``."""
    paths = [q for p in IMPORT_SCOPE for q in ([p] if p.is_file() else sorted(p.rglob("*.py")))]
    out = []
    for path in paths:
        if path.name == "__init__.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in tree.body:
            if not isinstance(node, _IMPORTS) or getattr(node, "module", None) == "__future__":
                continue
            for a in node.names:
                bound = a.asname or a.name.split(".")[0]
                if bound not in used:
                    out.append(f"{path.relative_to(ROOT).as_posix()}:{node.lineno} {bound}")
    return out


def test_module_level_imports_are_used():
    assert unused_imports() == []
