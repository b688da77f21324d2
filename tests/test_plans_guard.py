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
    no other module persists, caches, unpersists or names a StorageLevel."""
    pattern = re.compile(r"\.(persist|cache|unpersist)\(|StorageLevel")
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


def _package_definitions() -> dict[str, ast.AST]:
    """'module.name' -> node for every top-level package function or class."""
    return {
        f"{path.stem}.{stmt.name}": stmt
        for path in sorted(PKG.rglob("*.py"))
        for stmt in ast.parse(path.read_text()).body
        if isinstance(stmt, DEFINITIONS)
    }


def _unreachable(definitions: dict[str, ast.AST], extra_roots=()) -> list[str]:
    """Package definitions outside kernel/ that no production root reaches.

    The roots are the entry point, the bench scripts, tools/, perfbench/,
    the package's module-level statements other than imports and
    definitions, and ``extra_roots``. A definition is reached when a
    reached body uses its name; matching is by name, so a name collision
    can only over-approximate what production runs."""
    roots = [
        ROOT / "__spark_entry__.py", *ROOT.glob("bench*.py"),
        *(ROOT / "tools").rglob("*.py"), *(ROOT / "perfbench").rglob("*.py"),
    ]
    reached = {q.split(".")[-1] for q in extra_roots}
    for path in roots:
        reached |= _used_names(ast.parse(path.read_text()))
    for path in PKG.rglob("*.py"):
        for stmt in ast.parse(path.read_text()).body:
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
    files = [
        *PKG.rglob("*.py"), *(ROOT / "tools").rglob("*.py"), *ROOT.glob("bench*.py"),
        ROOT / "__spark_entry__.py", *(ROOT / "perfbench").rglob("*.py"),
        *(ROOT / "tests").rglob("*.py"),
    ]
    used = set()
    for path in files:
        used |= _referenced_names(ast.parse(path.read_text()))
    unused = sorted(
        q for q, node in definitions.items()
        if q.split(".")[0] in KERNEL_MODULES and node.name not in used
    )
    assert unused == sorted(UNREFERENCED_OK), unused
