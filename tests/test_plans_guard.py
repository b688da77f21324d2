"""Plan-regression guards (round-4 verdict #6): the driver registry must
stay within the 50-row CORRECTNESS artifact cap, no gate's physical
plan may regress to row-at-a-time Python (BatchEvalPython) or an
unbounded cartesian product, only plans/cache.py persists, and every
top-level package function or class has a reference somewhere.

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
    pkg = Path(__file__).resolve().parents[1] / "s2_geometry_library_java_spark"
    pattern = re.compile(r"\.(persist|cache|unpersist)\(|StorageLevel")
    found = [
        f"{path.relative_to(pkg)}:{n}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "plans" / "cache.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert found == []


#: top-level package names with no reference by name, each with its reason
UNREFERENCED_OK = {
    "tiling.raster_vector_join": "PAPER.md names raster<->vector joins",
    "booleanop.symmetric_difference": "tests reach it through the op-name string",
}


def _referenced_names(tree: ast.Module) -> set[str]:
    """Names a module references through ast.Name, ast.Attribute or an
    import alias, leaving out each top-level definition's references to
    itself (recursion)."""
    names = set()
    for stmt in tree.body:
        own = getattr(stmt, "name", None)
        for node in ast.walk(stmt):
            if isinstance(node, ast.Name):
                found = {node.id}
            elif isinstance(node, ast.Attribute):
                found = {node.attr}
            elif isinstance(node, ast.alias):
                found = {*node.name.split("."), node.asname}
            else:
                continue
            names |= found - {own, None}
    return names


def test_every_package_definition_is_referenced():
    """A top-level package function or class that nothing references by
    name (package, tools, bench scripts, entry point, perfbench, tests) is
    dead code: delete it, or give it a caller."""
    root = Path(__file__).resolve().parents[1]
    pkg = root / "s2_geometry_library_java_spark"
    files = [
        *pkg.rglob("*.py"), *(root / "tools").rglob("*.py"), *root.glob("bench*.py"),
        root / "__spark_entry__.py", *(root / "perfbench").rglob("*.py"),
        *(root / "tests").rglob("*.py"),
    ]
    defined, used = {}, set()
    for path in files:
        tree = ast.parse(path.read_text())
        used |= _referenced_names(tree)
        if pkg in path.parents:
            for stmt in tree.body:
                if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    defined[f"{path.stem}.{stmt.name}"] = stmt.name
    unused = sorted(q for q, name in defined.items() if name not in used)
    assert unused == sorted(UNREFERENCED_OK), unused
