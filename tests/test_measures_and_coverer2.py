"""D4 fast covering, D5 normalize_covering merge, D11 union measures,
A17 centroids, A18 cell areas, D12 cell boundary loop."""

import numpy as np

from s2_geometry_library_java_spark.kernel import cellid as ci
from s2_geometry_library_java_spark.kernel import coverer as cov
from s2_geometry_library_java_spark.kernel import region as rg
from s2_geometry_library_java_spark.kernel import sphere
from s2_geometry_library_java_spark.kernel.cell import Cell, cells_contain_points

FACES = [int((np.uint64(f) << np.uint64(61)) | (np.uint64(1) << np.uint64(60))) for f in range(6)]


def _covers(ids, lat_deg, lng_deg):
    leaf = ci.latlng_to_cell_id(np.radians(lat_deg), np.radians(lng_deg))
    u = np.array(ids, dtype=np.uint64)
    lo = ci.range_min(u)
    hi = ci.range_max(u)
    return ((leaf[:, None] >= lo[None, :]) & (leaf[:, None] <= hi[None, :])).any(axis=1)


def test_fast_covering_covers_cap():
    cap = rg.Cap.from_latlng_deg(12.0, 84.0, 2.5)
    coverer = cov.RegionCoverer(max_cells=8)
    ids = coverer.get_fast_covering(cap)
    assert 1 <= len(ids) <= 8
    # sample points inside the cap all covered
    rng = np.random.default_rng(2)
    ang = np.radians(2.5) * np.sqrt(rng.uniform(0, 1, 300))
    th = rng.uniform(0, 2 * np.pi, 300)
    lat = 12.0 + np.degrees(ang) * np.cos(th)
    lng = 84.0 + np.degrees(ang) * np.sin(th) / np.cos(np.radians(lat))
    assert _covers(ids, lat, lng).all()


def test_fast_covering_huge_cap_is_faces():
    cap = rg.Cap.from_latlng_deg(0.0, 0.0, 120.0)
    ids = cov.RegionCoverer(max_cells=8).get_fast_covering(cap)
    assert sorted(ids) == sorted(FACES)


def test_normalize_covering_merges_to_max_cells():
    # 32 leaf-ish cells scattered within one level-6 cell
    base = int(ci.parent(ci.latlng_degrees_to_cell_id(20.0, 20.0), 6))
    begin = int(ci.child_begin(np.uint64(base), 12))
    cells = [begin]
    for _ in range(31):
        cells.append(int(ci.next_cell(np.uint64(cells[-1]))))
    coverer = cov.RegionCoverer(max_cells=4)
    out = coverer.normalize_covering(list(cells))
    assert len(out) <= 4
    # output still covers every input cell
    u_in = np.array(cells, dtype=np.uint64)
    u_out = np.array(out, dtype=np.uint64)
    lo = ci.range_min(u_out)
    hi = ci.range_max(u_out)
    inside = (
        (ci.range_min(u_in)[:, None] >= lo[None, :])
        & (ci.range_max(u_in)[:, None] <= hi[None, :])
    ).any(axis=1)
    assert inside.all()


def test_union_measures():
    assert cov.union_leaf_cells_covered([FACES[0]]) == 4**30
    # all six faces: avg-based area is exactly the sphere
    np.testing.assert_allclose(
        cov.union_average_based_area(FACES), 4 * np.pi, rtol=1e-12
    )
    np.testing.assert_allclose(cov.union_exact_area(FACES), 4 * np.pi, rtol=1e-9)
    # approx area within the documented 3% for deeper cells
    cid = int(ci.parent(ci.latlng_degrees_to_cell_id(37.0, -122.0), 10))
    c = Cell(cid)
    assert abs(c.approx_area() - c.exact_area()) <= 0.03 * c.exact_area()
    assert abs(cov.union_approx_area([cid]) - c.approx_area()) == 0.0


def test_triangle_centroid_sums_to_loop_centroid():
    loop = rg.Loop.from_latlng_degrees(
        [(10.0, 10.0), (10.0, 14.0), (14.0, 14.0), (14.0, 10.0)]
    )
    cen = sphere.loop_centroid(loop.vertices)
    n = cen / np.linalg.norm(cen)
    # symmetric quad: centroid points at the center
    want = np.array(ci.latlng_to_xyz(np.radians(12.0), np.radians(12.0))).ravel()
    assert float(n @ want) > 1 - 1e-6
    # magnitude == area (centroid is area-weighted)
    area = sphere.signed_loop_area(loop.vertices)
    # |integral of position over region| <= area; for a small patch ~ area
    np.testing.assert_allclose(np.linalg.norm(cen), area, rtol=1e-3)


def test_edge_true_centroid_midpoint():
    a = np.array([1.0, 0.0, 0.0])
    b = np.array([0.0, 1.0, 0.0])
    c = sphere.edge_true_centroid(a[None], b[None])[0]
    n = c / np.linalg.norm(c)
    np.testing.assert_allclose(n, np.array([1.0, 1.0, 0.0]) / np.sqrt(2), atol=1e-15)
    # antipodal edge -> zero
    z = sphere.edge_true_centroid(a[None], -a[None])[0]
    assert np.linalg.norm(z) == 0.0


def test_boundary_loop_vertices():
    cid = int(ci.parent(ci.latlng_degrees_to_cell_id(5.0, 5.0), 8))
    c = Cell(cid)
    pts = c.boundary_loop_vertices(10)
    assert len(pts) == 4 * (1 << 2)
    np.testing.assert_allclose((pts * pts).sum(axis=1), 1.0, atol=1e-14)
    # the 4 cell corners appear among the loop vertices
    for v in c.vertices:
        d = np.abs(pts - v[None, :]).sum(axis=1).min()
        assert d < 1e-12


def test_cell_distance_chord2():
    """A19 exact cell<->point distance vs dense boundary sampling."""
    from s2_geometry_library_java_spark.kernel import edges as ek

    cid = int(ci.parent(ci.latlng_degrees_to_cell_id(15.0, 25.0), 6))
    c = Cell(cid)
    rng = np.random.default_rng(12)
    lat = np.radians(rng.uniform(5, 25, 100))
    lng = np.radians(rng.uniform(15, 35, 100))
    x, y, z = ci.latlng_to_xyz(lat, lng)
    pts = np.stack([x, y, z], axis=1)
    got = c.distance_chord2(pts)
    # dense sample of the cell boundary (interpolated edge points)
    v = c.vertices
    vb = np.roll(v, -1, axis=0)
    samples = []
    for k in range(4):
        for t in np.linspace(0, 1, 200):
            samples.append(ek.interpolate(v[k][None], vb[k][None], np.array([t]))[0])
    s = np.array(samples)
    brute = np.min(
        ((pts[:, None, :] - s[None, :, :]) ** 2).sum(axis=2), axis=1
    )
    inside = cells_contain_points(np.full(len(pts), c.face), np.tile(c.uv_bounds, (len(pts), 1)), pts)
    # outside points: boundary sampling approximates the true min
    np.testing.assert_allclose(got[~inside], brute[~inside], atol=1e-6)
    assert (got[inside] == 0.0).all()
    # max distance >= min distance and bounded by 4
    gmax = c.max_distance_chord2(pts)
    assert (gmax >= got).all() and (gmax <= 4.0).all()
