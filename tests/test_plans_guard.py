"""Plan-regression guards (round-4 verdict #6): the driver registry must
stay within the 50-row CORRECTNESS artifact cap, no gate's physical
plan may regress to row-at-a-time Python (BatchEvalPython) or an
unbounded cartesian product, and only plans/cache.py persists.

`explain` is plan-only — nothing executes, so the full registry sweep is
cheap enough for the default test run.
"""

from __future__ import annotations

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
