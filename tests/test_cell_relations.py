"""Cell x cell intersection: cellindex.intersecting_pairs / intersection
against a leaf-range-overlap oracle, their plans and their level probe."""

import numpy as np
import pytest

from s2_geometry_library_java_spark.kernel import cellid as s2
from s2_geometry_library_java_spark.localdf import local_df
from s2_geometry_library_java_spark.operators import booleanops, cellindex
from s2_geometry_library_java_spark.plans import cache


def _cells(rng, n, faces=(2,), levels=(4, 16)):
    """Random mixed-level cells clustered in a few level-10 cells per face,
    so nested, equal and disjoint pairs all occur."""
    face = rng.choice(np.asarray(faces), n)
    top = rng.integers(0, 4, n).astype(np.uint64) << np.uint64(40)
    pos = top | rng.integers(0, 1 << 40, n, dtype=np.uint64)
    return s2.from_face_pos_level(face, pos << np.uint64(1), rng.integers(*levels, n))


def _case(name):
    rng = np.random.default_rng(7)
    a = _cells(rng, 40)
    b = _cells(rng, 30)
    if name == "equal":
        b = np.concatenate([b, a[:10]])
    elif name == "own_leaf":
        b = np.concatenate([b, s2.range_min(a[:10]), s2.range_max(a[10:15])])
    elif name == "faces":
        a = _cells(rng, 60, faces=range(6), levels=(0, 12))
        b = _cells(rng, 60, faces=range(6), levels=(0, 12))
    elif name == "empty":
        b = b[:0]
    return a, b


def _overlap(a, b):
    """(i, j) of every a[i], b[j] whose leaf ranges overlap: brute force."""
    hit = (s2.range_min(a)[:, None] <= s2.range_max(b)[None, :]) & (
        s2.range_min(b)[None, :] <= s2.range_max(a)[:, None]
    )
    return list(zip(*np.nonzero(hit)))


CASES = ["mixed", "equal", "own_leaf", "faces", "empty"]


@pytest.mark.parametrize("name", CASES)
def test_intersecting_pairs_and_intersection_match_range_oracle(spark, name):
    a, b = _case(name)
    sa, sb = s2.to_signed(a).tolist(), s2.to_signed(b).tolist()
    pairs = _overlap(a, b)
    assert name == "empty" or pairs

    index = local_df(
        spark, [(c, f"l{i % 13}") for i, c in enumerate(sa)], "cell_id long, label string"
    )
    targets = local_df(
        spark, [(j // 3, c) for j, c in enumerate(sb)], "query_id long, target long"
    )
    got = cellindex.intersecting_pairs(index, targets).collect()
    assert len(got) == len({tuple(r) for r in got})
    assert {tuple(r) for r in got} == {
        (j // 3, sa[i], f"l{i % 13}") for i, j in pairs
    }

    ua = local_df(spark, [(c,) for c in sa], "cell_id long")
    ub = local_df(spark, [(c,) for c in sb], "cell_id long")
    got = [r["cell_id"] for r in cellindex.intersection(ua, ub).collect()]
    deeper = {
        sa[i] if s2.level(a[i]) >= s2.level(b[j]) else sb[j] for i, j in pairs
    }
    assert sorted(got) == sorted(deeper)


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_cell_relations_plan_no_nested_loop(spark, monkeypatch):
    a, b = _case("mixed")
    ua = local_df(spark, [(c,) for c in s2.to_signed(a).tolist()], "cell_id long")
    ub = local_df(spark, [(c,) for c in s2.to_signed(b).tolist()], "cell_id long")
    plans = [_executed_plan(cellindex.intersection(ua, ub))]

    def quad(lat0, lng0, d=3.0):
        pts = [(lat0, lng0), (lat0, lng0 + d), (lat0 + d, lng0 + d), (lat0 + d, lng0)]
        return ", ".join(f"{la!r}:{ln!r}" for la, ln in pts)

    shapes = "shape_id string, text string"
    sa = local_df(spark, [(f"a{k}", quad(10.0 + 4 * k, 20.0)) for k in range(3)], shapes)
    sb = local_df(spark, [(f"b{k}", quad(11.0 + 4 * k, 21.0)) for k in range(3)], shapes)
    monkeypatch.setattr(booleanops, "SMALL_SHAPES_THRESHOLD", 0)
    with cache.scope():
        plans.append(_executed_plan(booleanops.candidate_pairs(sa, sb)))
    for plan in plans:
        assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_intersecting_pairs_build_probes_levels_once(spark, count_jobs):
    a, b = _case("mixed")
    index = local_df(
        spark, [(c, "x") for c in s2.to_signed(a).tolist()], "cell_id long, label string"
    )
    targets = local_df(
        spark, [(0, c) for c in s2.to_signed(b).tolist()], "query_id long, target long"
    )
    _, n_probe = count_jobs(
        "ci-one-probe",
        lambda: index.select("cell_id").unionByName(
            targets.select(targets["target"].alias("cell_id"))
        ).distinct().collect(),
    )
    _, n_build = count_jobs(
        "ci-build", lambda: cellindex.intersecting_pairs(index, targets)
    )
    assert n_build == n_probe
