"""The point x covering join (operators/pip): one plan shape for every
point-in-region operator, and one answer across them."""

import io
import re
from contextlib import redirect_stdout

import numpy as np
import pytest

from s2_geometry_library_java_spark.kernel import cellid as s2
from s2_geometry_library_java_spark.kernel import region as rg
from s2_geometry_library_java_spark.operators import pip
from s2_geometry_library_java_spark.operators import shapes as shape_ops

# a 30-degree quad (large enough for an interior covering cell at the
# default max_cells), a quad with a quad hole, and a small convex quad
TEXTS = {
    "big": "5.1:50.3, 5.1:80.2, 35.3:80.2, 35.3:50.3",
    "holed": (
        "20.1:20.3, 20.1:30.2, 30.4:30.2, 30.4:20.3; "
        "23.3:23.1, 23.3:27.2, 27.1:27.2, 27.1:23.1"
    ),
    "quad": "-10.2:-10.1, -10.2:-6.3, -6.1:-6.3, -6.1:-10.1",
}


def _polygons():
    return {pid: rg.Polygon.from_text(t) for pid, t in TEXTS.items()}


@pytest.fixture(scope="module")
def fixture(spark):
    rng = np.random.default_rng(5)
    # uniform over all three, plus dense patches across the big quad and
    # the hole's rim
    lat = np.concatenate(
        [rng.uniform(-12, 40, 1500), rng.uniform(3, 38, 400), rng.uniform(19, 32, 300)]
    )
    lng = np.concatenate(
        [rng.uniform(-12, 85, 1500), rng.uniform(48, 83, 400), rng.uniform(19, 32, 300)]
    )
    pts = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(lat, lng))],
        "id long, lat double, lng double",
    )
    x, y, z = s2.latlng_to_xyz(np.radians(lat), np.radians(lng))
    brute = {
        pid: {int(i) for i in np.nonzero(poly.contains_points(x, y, z))[0]}
        for pid, poly in _polygons().items()
    }
    shapes = spark.createDataFrame(list(TEXTS.items()), "shape_id string, text string")
    return pts, shapes, brute


def _pairs(df):
    return {(int(r["point_id"]), r["polygon_id"]) for r in df.collect()}


def _want(brute, pids):
    return {(i, pid) for pid in pids for i in brute[pid]}


def test_every_pip_operator_equals_brute(spark, fixture):
    """pip_join and pip_join_indexed both equal brute
    Polygon.contains_points, on candidates from interior and boundary
    cells alike."""
    pts, shapes, brute = fixture
    polys = _polygons()
    cand = pip.candidate_join(spark, pip.leaf_points(pts), pip.covering_rows(polys))
    kinds = {(r["polygon_id"], r["is_interior"]) for r in cand.collect()}
    assert {("big", True), ("big", False), ("holed", False)} <= kinds
    want = _want(brute, TEXTS)
    assert all(brute[pid] for pid in TEXTS)
    assert _pairs(pip.pip_join(spark, pts, polys)) == want
    assert _pairs(shape_ops.pip_join_indexed(spark, pts, shapes)) == want


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize("indexed", [False, True])
def test_one_join_one_exact_filter_no_point_shuffle(spark, fixture, indexed):
    """One broadcast hash join, one exact-filter ArrowEvalPython that reads
    is_interior (so interior rows skip the kernel inside the UDF), and no
    shuffle: the only Exchange broadcasts the local covering table."""
    pts, shapes, _ = fixture
    if indexed:
        df = shape_ops.pip_join_indexed(spark, pts, shapes)
    else:
        df = pip.pip_join(spark, pts, _polygons())
    text = _plan(df)
    tree, details = text.split("\n\n", 1)
    assert len(re.findall(r"BroadcastHashJoin", tree)) == 1
    assert not re.search(r"(?<!Broadcast)Exchange", tree)
    exchanges = re.findall(r"BroadcastExchange \(\d+\)\n\s*\+- (\w+)", tree)
    assert exchanges == ["LocalTableScan"]
    udf_args = re.findall(r"\(\d+\) ArrowEvalPython\nInput.*\nArguments: (.*)", details)
    exact = [a for a in udf_args if "pip_filter" in a]
    assert len(exact) == 1 and "is_interior" in exact[0]


def test_indexed_plan_build_is_one_job(spark, fixture, count_jobs):
    """pip_join_indexed builds its plan with one pass over the shapes: a
    single collect brings back the covering rows and the shape texts."""
    pts, shapes, brute = fixture
    df, n = count_jobs("pip-join-indexed-plan", lambda: shape_ops.pip_join_indexed(spark, pts, shapes))
    assert n == 1
    assert _pairs(df) == _want(brute, TEXTS)
