"""F2 tolerant-join property tests: cell-ring join == brute force, and
covering expansion soundness (S2CellIteratorJoinTest-style equivalence)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.kernel import cellid as s2
from s2_geometry_library_java_spark.kernel import coverer as cov
from s2_geometry_library_java_spark.kernel import region as rg
from s2_geometry_library_java_spark.kernel import sphere
from s2_geometry_library_java_spark.operators import tolerant


def _random_points_df(spark, n, seed, id_col):
    rng = np.random.default_rng(seed)
    # uniform on the sphere via normalized gaussians
    v = rng.normal(size=(n, 3))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    lat, lng = s2.xyz_to_latlng(v[:, 0], v[:, 1], v[:, 2])
    rows = [
        (int(i), float(np.degrees(lat[i])), float(np.degrees(lng[i])))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, f"{id_col} long, lat double, lng double"), v


@pytest.mark.parametrize("radius_rad", [0.02, 0.15, 0.6])
def test_tolerant_pairs_equals_bruteforce(spark, radius_rad):
    a_df, av = _random_points_df(spark, 300, 1, "a_id")
    b_df, bv = _random_points_df(spark, 120, 2, "b_id")
    got = {
        (r["a_id"], r["b_id"])
        for r in tolerant.tolerant_pairs(a_df, b_df, radius_rad).collect()
    }
    threshold = float(sphere.chord2_from_angle(radius_rad))
    d2 = ((av[:, None, :] - bv[None, :, :]) ** 2).sum(axis=2)
    want = {(int(i), int(j)) for i, j in zip(*np.nonzero(d2 <= threshold))}
    assert got == want


def test_level_for_radius_monotone():
    prev = 30
    for r in [1e-6, 1e-4, 1e-2, 0.1, 0.5, 1.0]:
        lvl = tolerant.level_for_radius(r)
        assert 0 <= lvl <= 30
        assert lvl <= prev
        prev = lvl
        # the guarantee: MIN_WIDTH at the level is at least the radius
        if lvl < 30:
            assert sphere.metric_value(sphere.MIN_WIDTH_DERIV, lvl) >= r or lvl == 0
    # beyond the level-0 face-adjacency guarantee (acos(1/3)) the ring
    # probe can silently miss opposite-face pairs: must refuse, not clamp
    import pytest

    with pytest.raises(ValueError):
        tolerant.level_for_radius(3.0)
    tolerant.level_for_radius(tolerant.MAX_TOLERANT_RADIUS)  # boundary ok


def test_union_expand_radius_covers_buffer():
    """Every point within r of the region must fall inside the expanded
    covering (the soundness contract the tolerant join relies on)."""
    cap = rg.Cap.from_latlng_deg(10.0, 20.0, 3.0)
    coverer = cov.RegionCoverer(max_cells=8)
    ids = coverer.get_covering(cap)
    r = 0.03  # ~1.7 deg buffer
    expanded = cov.union_expand_radius(ids, r)
    # sample points on a ring at distance just inside cap_radius + r
    rng = np.random.default_rng(3)
    center = np.array(cap.center)
    ortho1 = np.cross(center, [0.0, 0.0, 1.0])
    ortho1 /= np.linalg.norm(ortho1)
    ortho2 = np.cross(center, ortho1)
    total_ang = np.radians(3.0) + r * 0.95
    thetas = rng.uniform(0, 2 * np.pi, 500)
    pts = (
        np.cos(total_ang) * center[None, :]
        + np.sin(total_ang)
        * (np.cos(thetas)[:, None] * ortho1[None, :] + np.sin(thetas)[:, None] * ortho2[None, :])
    )
    lat, lng = s2.xyz_to_latlng(pts[:, 0], pts[:, 1], pts[:, 2])
    leaves = s2.latlng_to_cell_id(lat, lng, 30)
    lo = np.array([int(s2.range_min(np.uint64(c))) for c in expanded], dtype=np.uint64)
    hi = np.array([int(s2.range_max(np.uint64(c))) for c in expanded], dtype=np.uint64)
    lob = lo.view(np.int64) ^ np.int64(-(2**63))
    hib = hi.view(np.int64) ^ np.int64(-(2**63))
    leafb = np.asarray(leaves, dtype=np.uint64).view(np.int64) ^ np.int64(-(2**63))
    inside = ((leafb[:, None] >= lob[None, :]) & (leafb[:, None] <= hib[None, :])).any(
        axis=1
    )
    assert inside.all()


def test_expand_coarse_cell_emits_fine_ring():
    """A face cell expanded at a finer level gets the full boundary ring
    (S2CellUnion.expand -> getAllNeighbors(finerLevel))."""
    face_cell = int(s2.parent(np.uint64(s2.latlng_degrees_to_cell_id(0.0, 0.0)), 0))
    out = cov.union_expand_level([face_cell], 2)
    # ring of level-2 cells around a face: 4 sides x 4 + 4 corners = 20,
    # normalized together with the face itself
    assert face_cell in out
    others = [c for c in out if c != face_cell]
    assert len(others) >= 16
    for c in others:
        assert int(s2.level(np.uint64(c))) == 2


def test_within_distance_of_polygons_matches_brute(spark):
    polys = {
        "q0": rg.Polygon(
            [rg.Loop.from_latlng_degrees([(5.0, 15.0), (5.0, 25.0), (15.0, 25.0), (15.0, 15.0)])]
        )
    }
    pts_df, v = _random_points_df(spark, 400, 7, "id")
    r = 0.08
    got = {
        r_["point_id"]
        for r_ in tolerant.within_distance_of_polygons(spark, pts_df, polys, r).collect()
    }
    # brute force: inside or min edge distance <= r
    from s2_geometry_library_java_spark.kernel import edges

    poly = polys["q0"]
    inside = poly.contains_points(v[:, 0], v[:, 1], v[:, 2])
    va = poly.loops[0].vertices
    vb = np.roll(va, -1, axis=0)
    d = edges.min_chord2_points_to_chain(v, va, vb)
    threshold = float(sphere.chord2_from_angle(r))
    want = set(np.nonzero(inside | (d <= threshold))[0].astype(int).tolist())
    assert got == want


def test_covering_memo_is_immutable(spark):
    """The covering memos hand every caller the same value: a caller's
    attempt to mutate it fails and cannot change a later call's rows."""
    from s2_geometry_library_java_spark.operators import pip

    polys = {"p": rg.Polygon.from_text("0:0, 0:2, 2:2, 2:0")}
    pts = spark.createDataFrame(
        [(1, 1.0, 1.0), (2, 5.0, 5.0)], "id long, lat double, lng double"
    )
    for rows_of in (
        lambda: pip.covering_rows(polys),
        lambda: tolerant.expanded_covering_rows(polys, 0.01),
    ):
        rows = rows_of()
        before = list(rows)
        with pytest.raises(AttributeError):
            rows.append(("q", 0, 0, 0, False))
        with pytest.raises(TypeError):
            rows[0] = ("q",) + tuple(rows[0][1:])
        assert list(rows_of()) == before
    hits = pip.pip_join(spark, pts, polys).collect()
    assert [(r["point_id"], r["polygon_id"]) for r in hits] == [(1, "p")]


def test_covering_memo_keeps_a_hot_key(monkeypatch):
    """The covering memo evicts its least recently used key: a key read
    again before each of _COVERING_MEMO_CAP cold inserts stays memoized,
    as geotag_docs' fixed polygon set does in a long-lived session."""
    from s2_geometry_library_java_spark.operators import pip

    monkeypatch.setattr(pip, "_COVERING_MEMO", {})
    builds = []

    def rows_of(key):
        return pip.memoized_rows(key, lambda: builds.append(key) or [(key,)])

    rows_of(b"hot")
    for i in range(pip._COVERING_MEMO_CAP):
        rows_of(b"hot")
        rows_of(b"cold %d" % i)
    assert rows_of(b"hot") == ((b"hot",),)
    assert builds.count(b"hot") == 1
    assert len(pip._COVERING_MEMO) == pip._COVERING_MEMO_CAP
