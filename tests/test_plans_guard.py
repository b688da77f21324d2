"""Plan-regression guards (round-4 verdict #6): the driver registry must
stay within the 50-row CORRECTNESS artifact cap, no gate's physical
plan may regress to row-at-a-time Python (BatchEvalPython) or an
unbounded cartesian product, only plans/cache.py persists, and every
top-level package function or class outside kernel/ is reachable from
production (kernel/: has a reference somewhere).

`explain` is plan-only — nothing executes, so the full registry sweep is
cheap enough for the default test run.
"""

from __future__ import annotations

import ast
import io
import re
from contextlib import redirect_stdout
from functools import lru_cache
from pathlib import Path

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR

#: The driver records at most 50 CORRECTNESS rows (observed: r4 registered
#: 54 gates, the artifact carried exactly the first 50 in registry order).
DRIVER_GATE_CAP = 50

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "s2_geometry_library_java_spark"
KERNEL_MODULES = {path.stem for path in (PKG / "kernel").glob("*.py")}
DEFINITIONS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def test_registry_fits_driver_cap():
    qs = entrymod.queries()
    assert len(qs) <= DRIVER_GATE_CAP, (
        f"registry has {len(qs)} gates; the driver records only the first "
        f"{DRIVER_GATE_CAP} — merge related gates (see q_region_contains)"
    )


def test_every_query_has_oracle():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(qs) - set(oracles) == set()


def _plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_no_python_row_loop_or_cartesian(spark, name):
    df = entrymod.queries()[name](spark, SF_DIR)
    plan = _plan_text(df)
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"


def test_only_plans_cache_persists():
    """plans/cache.py is the package's one owner of cached intermediates:
    no other module persists, caches, unpersists, checkpoints or names a
    StorageLevel. ``cache.checkpoint(`` is the owner's own checkpoint."""
    pattern = re.compile(
        r"\.(persist|cache|unpersist)\(|StorageLevel|localCheckpoint"
        r"|(?<!\bcache)\.checkpoint\("
    )
    found = [
        f"{path.relative_to(PKG)}:{n}: {line.strip()}"
        for path in sorted(PKG.rglob("*.py"))
        if path != PKG / "plans" / "cache.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert found == []


#: kernel/ names with no reference by name anywhere, each with its reason
UNREFERENCED_OK = {
    "booleanop.symmetric_difference": "tests reach it through the op-name string",
}

#: names outside kernel/ that no production root reaches, each with its
#: reason; they count as roots, so the helpers they call need no entry
UNREACHABLE_OK = {
    "tiling.raster_vector_join": "PAPER.md names raster<->vector joins",
    "density.with_hot_cell_salt":
        "BASELINE.json names salted repartition for skewed hot cells",
    "density.repartition_by_hilbert_range":
        "BASELINE.json asks for explicit partitioning of skewed hot cells",
    "edgequeries.directed_hausdorff_brute":
        "the oracle test_hausdorff_pruned_equals_brute checks directed_hausdorff against",
}


def _used_names(node: ast.AST) -> set[str]:
    """Names ``node`` uses through ast.Name or ast.Attribute."""
    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute))
    }


def _referenced_names(tree: ast.Module) -> set[str]:
    """Names a module uses or imports, leaving out each top-level
    definition's references to itself (recursion)."""
    names = set()
    for stmt in tree.body:
        imported = {
            part
            for n in ast.walk(stmt) if isinstance(n, ast.alias)
            for part in (*n.name.split("."), n.asname)
        }
        names |= (_used_names(stmt) | imported) - {getattr(stmt, "name", None), None}
    return names


@lru_cache(maxsize=None)
def _production() -> tuple[dict[Path, ast.Module], dict[Path, ast.Module]]:
    """(roots, package): one parse of every production source, path ->
    module. The roots are the entry point, the bench scripts, tools/ and
    perfbench/; the package is every module under PKG, kernel/ included.
    Both the reachability and the option guard read this one parse, so
    they agree on what production is."""
    roots = [
        ROOT / "__spark_entry__.py", *ROOT.glob("bench*.py"),
        *(ROOT / "tools").rglob("*.py"), *(ROOT / "perfbench").rglob("*.py"),
    ]
    parse = lambda paths: {p: ast.parse(p.read_text()) for p in sorted(paths)}  # noqa: E731
    return parse(roots), parse(PKG.rglob("*.py"))


def _package_definitions() -> dict[str, ast.AST]:
    """'module.name' -> node for every top-level package function or class."""
    return {
        f"{path.stem}.{stmt.name}": stmt
        for path, tree in _production()[1].items()
        for stmt in tree.body
        if isinstance(stmt, DEFINITIONS)
    }


def _unreachable(definitions: dict[str, ast.AST], extra_roots=()) -> list[str]:
    """Package definitions outside kernel/ that no production root reaches.

    The roots are the modules of ``_production()[0]``, the package's
    module-level statements other than imports and definitions, and
    ``extra_roots``. A definition is reached when a reached body uses its
    name; matching is by name, so a name collision can only
    over-approximate what production runs."""
    roots, package = _production()
    reached = {q.split(".")[-1] for q in extra_roots}
    for tree in roots.values():
        reached |= _used_names(tree)
    for tree in package.values():
        for stmt in tree.body:
            if not isinstance(stmt, (*DEFINITIONS, ast.Import, ast.ImportFrom)):
                reached |= _used_names(stmt)
    bodies: dict[str, list[ast.AST]] = {}
    for node in definitions.values():
        bodies.setdefault(node.name, []).append(node)
    frontier = set(reached)
    while frontier:
        found = set()
        for name in frontier:
            for node in bodies.get(name, []):
                found |= _used_names(node)
        frontier = found - reached
        reached |= frontier
    return sorted(
        q for q, node in definitions.items()
        if q.split(".")[0] not in KERNEL_MODULES and node.name not in reached
    )


def test_every_package_definition_is_referenced():
    """Dead code fails this test: delete it, or give it a caller.

    Outside kernel/, a top-level package function or class must be
    reachable from production (see ``_unreachable``); a test's reference
    does not count. Inside kernel/, a reference by name anywhere (tests
    included) suffices: the kernel's test-only helpers pin its parity with
    the reference's S2CellIdTest, S2LatLngTest, S2RegionCovererTest and
    S2PolygonTest fixtures."""
    definitions = _package_definitions()
    unreachable = _unreachable(definitions, UNREACHABLE_OK)
    assert unreachable == [], ", ".join(unreachable)
    assert set(UNREACHABLE_OK) <= set(_unreachable(definitions)), "stale UNREACHABLE_OK entry"
    trees = [
        *_production()[0].values(), *_production()[1].values(),
        *(ast.parse(path.read_text()) for path in (ROOT / "tests").rglob("*.py")),
    ]
    used = set()
    for tree in trees:
        used |= _referenced_names(tree)
    unused = sorted(
        q for q, node in definitions.items()
        if q.split(".")[0] in KERNEL_MODULES and node.name not in used
    )
    assert unused == sorted(UNREFERENCED_OK), unused


#: defaulted parameters outside kernel/ that no production call passes,
#: each with its reason ('module.function.parameter', methods as
#: 'module.Class.method.parameter')
UNPASSED_OK: dict[str, str] = {}


def _is_input_name(name: str) -> bool:
    """Parameters naming the caller's input columns, and the vector width:
    they describe the input, not a behaviour."""
    return name.endswith(("_col", "_id")) or name in {"lat", "lng", "src", "dst", "seq", "dim"}


def _options() -> dict[str, tuple[str, int | None]]:
    """'module.function.parameter' -> (function name, positional index or
    None when keyword-only) for every defaulted behaviour parameter of a
    package function or method outside kernel/ and UNREACHABLE_OK."""
    out = {}
    for path, tree in _production()[1].items():
        if path.parent.name == "kernel":
            continue
        funcs = []
        for stmt in tree.body:
            if isinstance(stmt, ast.ClassDef):
                funcs += [
                    (f"{path.stem}.{stmt.name}.{f.name}", f, 1)
                    for f in stmt.body if isinstance(f, ast.FunctionDef)
                ]
            elif isinstance(stmt, ast.FunctionDef):
                if f"{path.stem}.{stmt.name}" not in UNREACHABLE_OK:
                    funcs.append((f"{path.stem}.{stmt.name}", stmt, 0))
        for qual, fn, skip in funcs:
            a = fn.args
            positional = a.posonlyargs + a.args
            first = len(positional) - len(a.defaults)
            params = [(p.arg, i - skip) for i, p in enumerate(positional) if i >= first]
            params += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d]
            for name, index in params:
                if not _is_input_name(name):
                    out[f"{qual}.{name}"] = (fn.name, index)
    return out


def _unpassed_options() -> list[str]:
    """The ``_options`` that no production call passes, by keyword or
    position. Calls match by function name, so a name collision can only
    count an option as passed."""
    calls: dict[str, list[ast.Call]] = {}
    for tree in (*_production()[0].values(), *_production()[1].values()):
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = getattr(f, "id", None) or getattr(f, "attr", None)
                calls.setdefault(name, []).append(node)

    def passes(call: ast.Call, name: str, index: int | None) -> bool:
        if any(k.arg in (None, name) for k in call.keywords):
            return True
        return index is not None and (
            len(call.args) > index or any(isinstance(a, ast.Starred) for a in call.args)
        )

    return sorted(
        q for q, (func, index) in _options().items()
        if not any(passes(c, q.split(".")[-1], index) for c in calls.get(func, []))
    )


def test_every_option_has_a_production_caller():
    """An option no production call sets is a constant: fold it into the
    body (an inline literal, or a module constant when modules share it or
    a test patches it) and delete the branches only other values reached.

    The rule covers every defaulted parameter of a function or method
    outside kernel/ (which keeps reference-parity signatures) and outside
    UNREACHABLE_OK, except the names of the caller's input columns and the
    vector width (``_is_input_name``)."""
    unpassed = _unpassed_options()
    unset = [q for q in unpassed if q not in UNPASSED_OK]
    assert unset == [], "no production call passes " + ", ".join(unset)
    assert set(UNPASSED_OK) <= set(unpassed), "stale UNPASSED_OK entry"
