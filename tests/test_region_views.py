"""C7 ShapeIndexRegion, C8 BufferedRegion, G8 polyline project."""

import numpy as np

from s2_geometry_library_java_spark.kernel import cellid as ci
from s2_geometry_library_java_spark.kernel import coverer as cov
from s2_geometry_library_java_spark.kernel import edges as ek
from s2_geometry_library_java_spark.kernel import region as rg
from s2_geometry_library_java_spark.kernel import sphere
from s2_geometry_library_java_spark.kernel.cell import Cell, cells_geometry


def _poly():
    return rg.Polygon(
        [rg.Loop.from_latlng_degrees([(0.0, 0.0), (0.0, 12.0), (12.0, 12.0), (12.0, 0.0)])]
    )


def test_shape_index_region_cell_tests_sound():
    poly = _poly()
    reg = rg.ShapeIndexRegion(poly)
    rng = np.random.default_rng(3)
    lat = rng.uniform(-10, 22, 200)
    lng = rng.uniform(-10, 22, 200)
    lvls = rng.integers(4, 10, 200)
    ids = [
        int(ci.parent(ci.latlng_degrees_to_cell_id(lat[k], lng[k]), int(lvls[k])))
        for k in range(200)
    ]
    exact_may, exact_contains = rg.region_cell_tests(poly)[0](ids)
    _, _, verts = cells_geometry(np.array(ids, dtype=np.uint64))
    touched = rg.loop_edges_touch_cells(poly.loops[0].vertices, verts)
    for k, cid in enumerate(ids):
        cell = Cell(cid)
        # soundness: contains never over-claims; may_intersect never under-claims
        if reg.contains_cell(cell):
            assert exact_contains[k] or not touched[k]
            assert exact_may[k]  # contained cells certainly intersect
        if exact_may[k]:
            assert reg.may_intersect_cell(cell)


def test_shape_index_region_covering_valid():
    poly = _poly()
    reg = rg.ShapeIndexRegion(poly)
    ids = cov.RegionCoverer(max_cells=12).get_covering(reg)
    assert 1 <= len(ids) <= 12
    rng = np.random.default_rng(5)
    lat = rng.uniform(0.2, 11.8, 400)
    lng = rng.uniform(0.2, 11.8, 400)
    leaf = ci.latlng_to_cell_id(np.radians(lat), np.radians(lng))
    u = np.array(ids, dtype=np.uint64)
    lo, hi = ci.range_min(u), ci.range_max(u)
    covered = ((leaf[:, None] >= lo[None, :]) & (leaf[:, None] <= hi[None, :])).any(axis=1)
    assert covered.all()


def test_buffered_region_covering_covers_ring():
    poly = _poly()
    r = np.radians(2.0)
    reg = rg.BufferedRegion(poly, float(r))
    ids = cov.RegionCoverer(max_cells=16).get_covering(reg)
    # points just inside the buffer: along the lng=12 edge pushed outward
    lat = np.radians(np.linspace(1.0, 11.0, 100))
    lng = np.radians(12.0) + 0.95 * r / np.cos(lat)
    # contains_points agrees they are in the buffered region
    x, y, z = ci.latlng_to_xyz(lat, lng)
    inside = reg.contains_points(x, y, z)
    assert inside.all()
    leaf = ci.latlng_to_cell_id(lat, lng)
    u = np.array(ids, dtype=np.uint64)
    lo, hi = ci.range_min(u), ci.range_max(u)
    covered = ((leaf[:, None] >= lo[None, :]) & (leaf[:, None] <= hi[None, :])).any(axis=1)
    assert covered.all()
    # and points far outside are not in the region
    far_x, far_y, far_z = ci.latlng_to_xyz(np.radians(np.array([40.0])), np.radians(np.array([40.0])))
    assert not reg.contains_points(far_x, far_y, far_z)[0]


def test_project_to_chain():
    rng = np.random.default_rng(8)
    verts = rng.normal(size=(7, 3))
    verts /= np.linalg.norm(verts, axis=1, keepdims=True)
    va, vb = verts[:-1], verts[1:]
    pts = rng.normal(size=(30, 3))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    proj, seg, d2 = ek.project_to_chain(pts, va, vb)
    # the projected point realizes the chain min distance
    d_proj = sphere.chord2_between(
        pts[:, 0], pts[:, 1], pts[:, 2], proj[:, 0], proj[:, 1], proj[:, 2]
    )
    np.testing.assert_allclose(d_proj, d2, atol=1e-14)
    want = ek.min_chord2_points_to_chain(pts, va, vb)
    np.testing.assert_allclose(d2, want, atol=0)
    assert ((seg >= 0) & (seg < len(va))).all()


def test_interior_tracker_large_boundary_perf_and_parity():
    """The C7 cell tests must be range lookups, not edge scans: on a
    10k-edge boundary, 2,000 cell tests have to finish orders of magnitude
    faster than 2,000 full-parity calls, and agree with the polygon's own
    verdicts."""
    import time

    n = 10_000
    ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
    lats = 20.0 + 10.0 * np.sin(ang) + 0.4 * np.sin(ang * 37)
    lngs = 40.0 + 10.0 * np.cos(ang) + 0.4 * np.cos(ang * 23)
    x, y, z = ci.latlng_to_xyz(np.radians(lats), np.radians(lngs))
    poly = rg.Polygon([rg.Loop(np.stack([x, y, z], axis=1))])
    t0 = time.time()
    region = rg.ShapeIndexRegion(poly, max_level=12)
    build_s = time.time() - t0

    rng = np.random.default_rng(13)
    qlat = rng.uniform(5, 35, 2000)
    qlng = rng.uniform(25, 55, 2000)
    cells = [
        Cell(int(ci.latlng_degrees_to_cell_id(la, ln, 9)))
        for la, ln in zip(qlat, qlng)
    ]
    t0 = time.time()
    verdicts = [(region.contains_cell(c), region.may_intersect_cell(c)) for c in cells]
    query_s = time.time() - t0
    # 2k queries on a 10k-edge shape: interior-tracker lookups take
    # microseconds each; a parity scan would take ~2ms each (measured).
    assert query_s < 1.5, f"cell tests too slow: {query_s:.2f}s (build {build_s:.1f}s)"

    # parity spot-check on a sample: contains -> every corner inside;
    # not may_intersect -> center outside
    for c, (cont, may) in list(zip(cells, verdicts))[:300]:
        v = c.vertices
        inside = poly.contains_points(v[:, 0], v[:, 1], v[:, 2])
        if cont:
            assert inside.all()
        if not may:
            m = v.mean(axis=0)
            m /= np.sqrt(m @ m)
            assert not bool(poly.contains_points(m[0:1], m[1:2], m[2:3])[0])


def test_interior_covers_children_tile_parent():
    """ADVICE r3: adjacent leaf ranges are spaced 2 apart (leaf ids are
    odd), so four interior children exactly tiling their parent must
    satisfy contains_cell; dropping any child must break coverage."""
    parent = int(ci.latlng_degrees_to_cell_id(6.0, 6.0, 5))
    kids = np.array(
        [int(ci.child(np.uint64(parent), p)) for p in range(4)], dtype=np.uint64
    )
    bias = np.uint64(1) << np.uint64(63)
    reg = object.__new__(rg.ShapeIndexRegion)
    reg._lo = np.array([], dtype=np.int64)
    reg._hi = np.array([], dtype=np.int64)
    reg._ilo = np.sort((ci.range_min(kids) ^ bias).view(np.int64))
    reg._ihi = np.sort((ci.range_max(kids) ^ bias).view(np.int64))
    assert reg.contains_cell(Cell(parent))
    # every child on its own is still contained
    for k in kids:
        assert reg.contains_cell(Cell(int(k)))
    # a genuine gap (missing child) must be detected
    for drop in range(4):
        keep = np.delete(kids, drop)
        reg._ilo = np.sort((ci.range_min(keep) ^ bias).view(np.int64))
        reg._ihi = np.sort((ci.range_max(keep) ^ bias).view(np.int64))
        assert not reg.contains_cell(Cell(parent))
