"""F6 crossing pairs, F7 Hausdorff, F8 interpolation, G5 convex hull."""

import numpy as np

from s2_geometry_library_java_spark.kernel import cellid as s2
from s2_geometry_library_java_spark.kernel import convexhull as ch
from s2_geometry_library_java_spark.kernel import edges as ek
from s2_geometry_library_java_spark.kernel import predicates
from s2_geometry_library_java_spark.kernel import region as rg


def test_convex_hull_properties():
    rng = np.random.default_rng(9)
    for trial in range(5):
        # points clustered in a cap (convex hull exists)
        center = rng.normal(size=3)
        center /= np.linalg.norm(center)
        o1 = np.cross(center, [0.0, 0.0, 1.0])
        o1 /= np.linalg.norm(o1)
        o2 = np.cross(center, o1)
        ang = rng.uniform(0, 0.3, 40)
        th = rng.uniform(0, 2 * np.pi, 40)
        pts = (
            np.cos(ang)[:, None] * center[None, :]
            + np.sin(ang)[:, None]
            * (np.cos(th)[:, None] * o1[None, :] + np.sin(th)[:, None] * o2[None, :])
        )
        hull = ch.convex_hull(pts)
        assert hull is not None and len(hull) >= 3
        # 1. hull vertices are input points
        in_set = {tuple(p) for p in pts}
        for v in hull:
            assert tuple(v) in in_set
        # 2. hull is convex CCW: every consecutive turn is left
        m = len(hull)
        for i in range(m):
            a, b, c = hull[i], hull[(i + 1) % m], hull[(i + 2) % m]
            assert predicates._sign1(a, b, c) > 0
        # 3. every input point is inside or on the hull loop
        loop = rg.Loop(hull)
        inside = loop.contains_points(pts[:, 0], pts[:, 1], pts[:, 2])
        # boundary vertices may test either way; interior points must be in
        hull_set = {tuple(p) for p in hull}
        for p, isin in zip(pts, inside):
            if tuple(p) not in hull_set:
                assert isin, p


def test_convex_hull_hemisphere_full_loop():
    """S2ConvexHullQuery.java:137-153: geometry spanning more than half
    the sphere hulls to the FULL loop (single Z_NEG vertex), not None."""
    pts = np.array([[1.0, 0, 0], [-1.0, 0, 0], [0, 1.0, 0], [0, -1.0, 0]])
    hull = ch.convex_hull(pts)
    assert ch.is_full_hull(hull)
    # exactly antipodal pair -> full loop (S2ConvexHullQuery.java:255-265)
    anti = np.array([[0.0, 1.0, 0.0], [0.0, -1.0, 0.0]])
    assert ch.is_full_hull(ch.convex_hull(anti))
    # a normal cap-bounded set is NOT full
    cap = np.array([[1.0, 0, 0], [0.99, 0.1, 0], [0.99, 0, 0.1]])
    cap = cap / np.sqrt((cap ** 2).sum(axis=1))[:, None]
    assert not ch.is_full_hull(ch.convex_hull(cap))


def test_crossing_pairs_matches_kernel(spark):
    from s2_geometry_library_java_spark.operators import edgequeries
    from s2_geometry_library_java_spark.operators import shapes as shape_ops

    def quad_text(clat, clng, h):
        pts = [(clat - h, clng - h), (clat - h, clng + h), (clat + h, clng + h), (clat + h, clng - h)]
        return ", ".join(f"{la!r}:{ln!r}" for la, ln in pts)

    a_specs = {"a0": (10.0, 10.0, 4.0), "a1": (-20.0, 100.0, 5.0)}
    b_specs = {"b0": (12.0, 12.0, 4.0), "b1": (60.0, -60.0, 3.0)}
    sa = spark.createDataFrame(
        [(k, quad_text(*v)) for k, v in a_specs.items()], "shape_id string, text string"
    )
    sb = spark.createDataFrame(
        [(k, quad_text(*v)) for k, v in b_specs.items()], "shape_id string, text string"
    )
    ia = shape_ops.shape_index_df(sa, min_level=5)
    ib = shape_ops.shape_index_df(sb, min_level=5)
    got = {
        (r["a_shape"], r["a_edge"], r["b_shape"], r["b_edge"])
        for r in edgequeries.crossing_edge_pairs(ia, ib, level=5).collect()
    }
    # kernel brute force over all edge pairs
    want = set()
    for ka, va in a_specs.items():
        pa = rg.Polygon.from_text(quad_text(*va)).loops[0].vertices
        for kb, vb in b_specs.items():
            pb = rg.Polygon.from_text(quad_text(*vb)).loops[0].vertices
            for i in range(4):
                for j in range(4):
                    if predicates._arcs_cross_scalar(
                        pa[i], pa[(i + 1) % 4], pb[j], pb[(j + 1) % 4]
                    ):
                        want.add((ka, i, kb, j))
    assert got == want and len(want) > 0


def test_chain_interpolate_matches_kernel(spark):
    from s2_geometry_library_java_spark.operators import edgequeries

    rng = np.random.default_rng(17)
    rows = []
    chains = {}
    for cid in range(3):
        lat0, lng0 = rng.uniform(-40, 40), rng.uniform(-150, 150)
        pts = [(lat0 + k * rng.uniform(0.5, 2), lng0 + k * rng.uniform(0.5, 2)) for k in range(6)]
        chains[cid] = pts
        rows.extend((cid, k, float(pts[k][0]), float(pts[k][1])) for k in range(6))
    df = spark.createDataFrame(rows, "chain_id long, seq int, lat double, lng double")
    got = {
        (r["chain_id"], r["frac_pct"]): np.array([r["x"], r["y"], r["z"]])
        for r in edgequeries.chain_interpolate(df, [0.25, 0.5, 0.75]).collect()
    }
    for cid, pts in chains.items():
        lat = np.radians([p[0] for p in pts])
        lng = np.radians([p[1] for p in pts])
        x, y, z = s2.latlng_to_xyz(lat, lng)
        v = np.stack([x, y, z], axis=1)
        from s2_geometry_library_java_spark.kernel import sphere

        elen = sphere.angle_between(
            v[:-1, 0], v[:-1, 1], v[:-1, 2], v[1:, 0], v[1:, 1], v[1:, 2]
        )
        # NOTE kernel edge length via chord formula to match operator
        chord2 = ((v[:-1] - v[1:]) ** 2).sum(axis=1)
        elen = 2.0 * np.arcsin(0.5 * np.sqrt(chord2))
        cum = np.concatenate([[0.0], np.cumsum(elen)])
        total = cum[-1]
        for frac in (0.25, 0.5, 0.75):
            target = frac * total
            k = int(np.searchsorted(cum, target, side="right") - 1)
            k = min(k, len(elen) - 1)
            r = target - cum[k]
            want = ek.interpolate_at_distance(np.array([r]), v[k][None], v[k + 1][None])[0]
            have = got[(cid, int(frac * 100))]
            assert np.linalg.norm(have - want) < 1e-12, (cid, frac)


def test_directed_hausdorff_witness(spark):
    from s2_geometry_library_java_spark.operators import edgequeries
    from s2_geometry_library_java_spark.operators import shapes as shape_ops

    shapes = spark.createDataFrame(
        [("s0", "0.0:0.0, 0.0:10.0, 10.0:10.0, 10.0:0.0")],
        "shape_id string, text string",
    )
    idx = shape_ops.shape_index_df(shapes)
    pts = spark.createDataFrame(
        [(1, 5.0, 5.0), (2, 5.0, 11.0), (3, 40.0, 40.0)],
        "id long, lat double, lng double",
    )
    out = edgequeries.directed_hausdorff(pts, idx).collect()
    assert len(out) == 1 and out[0]["worst_point_id"] == 3


def test_crossing_pairs_degenerate_escalation(spark):
    """Adversarial near/exactly-degenerate edge pairs: determinants inside
    the triage bound must route through the kernel's exact cascade and
    match the scalar robust predicate (the F6 exact tier)."""
    from s2_geometry_library_java_spark.kernel.predicates import TRIAGE_ERROR
    from s2_geometry_library_java_spark.operators import edgequeries

    def eq(lng_deg, z=0.0):
        l = np.radians(lng_deg)
        p = np.array([np.cos(l), np.sin(l), z])
        return p / np.linalg.norm(p)

    A, B = eq(0.0), eq(10.0)
    cases = {
        # collinear overlap on the same great circle: all four dets exactly 0
        "overlap": (eq(5.0), eq(15.0)),
        # crossing at a vanishing angle: dets ~1e-16, inside the triage bound
        "shallow": (eq(5.0, z=1e-16), eq(5.3, z=-1e-16)),
        # shared vertex: robustCrossing == 0, never a PROPER crossing
        "vertex": (A.copy(), eq(5.0, z=0.5)),
        # plain certified crossing for contrast
        "plain": (eq(5.0, z=0.5), eq(5.0, z=-0.5)),
    }
    # sanity: the shallow case really is inside the triage bound
    d = np.linalg.det(np.stack([A, cases["shallow"][0], B]))
    assert abs(d) <= TRIAGE_ERROR

    def leaf(p):
        lat = np.arctan2(p[2], np.hypot(p[0], p[1]))
        lng = np.arctan2(p[1], p[0])
        cid = s2.latlng_to_cell_id(np.array([lat]), np.array([lng]), 30)
        return int(s2.to_signed(cid)[0])

    ia = spark.createDataFrame(
        [("a0", leaf((A + B) / 2.0), 0) + tuple(map(float, A)) + tuple(map(float, B))],
        "shape_id string, cell_id long, edge_id int, ax double, ay double, az double, bx double, by double, bz double",
    )
    ib = spark.createDataFrame(
        [
            (k, leaf((c + d_) / 2.0), 0) + tuple(map(float, c)) + tuple(map(float, d_))
            for k, (c, d_) in cases.items()
        ],
        "shape_id string, cell_id long, edge_id int, ax double, ay double, az double, bx double, by double, bz double",
    )
    got = {
        r["b_shape"]
        for r in edgequeries.crossing_edge_pairs(ia, ib, level=0).collect()
    }
    want = {
        k
        for k, (c, d_) in cases.items()
        if predicates._arcs_cross_scalar(A, B, c, d_)
    }
    # the contract: the Spark path agrees with the kernel cascade exactly
    # (note: SoS perturbation classifies the collinear overlap as crossing —
    # signs are never 0 for distinct points, matching robustCrossing)
    assert got == want
    assert "plain" in want and "shallow" in want
    assert "vertex" not in want


def test_hausdorff_pruned_equals_brute(spark):
    """The pruned directed-Hausdorff plan must return the exact brute
    witness (shape, point, chord2) on a dense boundary where pruning
    actually engages."""
    from s2_geometry_library_java_spark.operators import edgequeries

    # dense ~120-edge ring boundary as a shape index table
    n = 120
    ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
    clat, clng, r = 10.0, 40.0, 8.0
    lats = clat + r * np.sin(ang)
    lngs = clng + r * np.cos(ang)
    va = np.stack(s2.latlng_to_xyz(np.radians(lats), np.radians(lngs)), axis=1)
    vb = np.roll(va, -1, axis=0)
    rows = [
        ("ring", 0, k) + tuple(map(float, va[k])) + tuple(map(float, vb[k]))
        for k in range(n)
    ]
    idx = spark.createDataFrame(
        rows,
        "shape_id string, cell_id long, edge_id int, ax double, ay double, "
        "az double, bx double, by double, bz double",
    )
    rng = np.random.default_rng(21)
    pts = [
        (int(i), float(clat + rng.uniform(-14, 14)), float(clng + rng.uniform(-14, 14)))
        for i in range(300)
    ]
    pdf = spark.createDataFrame(pts, "id long, lat double, lng double")
    got = edgequeries.directed_hausdorff(pdf, idx).collect()
    want = edgequeries.directed_hausdorff_brute(pdf, idx).collect()
    assert len(got) == len(want) == 1
    assert got[0]["worst_point_id"] == want[0]["worst_point_id"]
    assert got[0]["chord2"] == want[0]["chord2"]


def test_hausdorff_pruned_tiny_hole_chain_aware(spark):
    """A shape with a 4-edge hole (smaller than the 8-edge sample step): the
    chain-aware gap bound must keep the pruned witness identical to
    brute — the case the un-chained run bound could not certify."""
    from s2_geometry_library_java_spark.operators import edgequeries
    from s2_geometry_library_java_spark.operators import shapes as shape_ops

    shapes = spark.createDataFrame(
        [("h", "0.0:0.0, 0.0:20.0, 20.0:20.0, 20.0:0.0; "
               "9.0:9.0, 9.0:11.0, 11.0:11.0, 11.0:9.0")],
        "shape_id string, text string",
    )
    idx = shape_ops.shape_index_df(shapes)
    assert "chain_id" in idx.columns
    rng = np.random.default_rng(31)
    pts = [
        (int(i), float(rng.uniform(-5, 25)), float(rng.uniform(-5, 25)))
        for i in range(200)
    ] + [(900, 10.0, 10.0)]  # hole center: nearest boundary is the hole
    pdf = spark.createDataFrame(pts, "id long, lat double, lng double")
    got = edgequeries.directed_hausdorff(pdf, idx).collect()
    want = edgequeries.directed_hausdorff_brute(pdf, idx).collect()
    assert got[0]["worst_point_id"] == want[0]["worst_point_id"]
    assert got[0]["chord2"] == want[0]["chord2"]


def test_edge_pair_min_chord2_properties():
    """Edge-pair distance kernel: symmetry, zero on crossing/touching,
    and agreement with a dense-sampling lower bound."""
    import numpy as np

    from s2_geometry_library_java_spark.kernel import cellid as ci
    from s2_geometry_library_java_spark.kernel import edges as ek

    def pt(la, ln):
        return np.ravel(ci.latlng_to_xyz(np.radians(la), np.radians(ln)))

    rng = np.random.RandomState(3)
    for _ in range(50):
        a0, a1 = pt(rng.uniform(-60, 60), rng.uniform(-170, 170)), pt(
            rng.uniform(-60, 60), rng.uniform(-170, 170))
        b0, b1 = pt(rng.uniform(-60, 60), rng.uniform(-170, 170)), pt(
            rng.uniform(-60, 60), rng.uniform(-170, 170))
        d_ab = float(ek.edge_pair_min_chord2(a0[None], a1[None], b0[None], b1[None])[0])
        d_ba = float(ek.edge_pair_min_chord2(b0[None], b1[None], a0[None], a1[None])[0])
        assert abs(d_ab - d_ba) < 1e-18
        # dense-sample lower bound: sampled pairwise chord2 never beats
        # the kernel by more than sampling error
        ts = np.linspace(0, 1, 17)
        pa = np.array([(1 - t) * a0 + t * a1 for t in ts])
        pa /= np.linalg.norm(pa, axis=1, keepdims=True)
        pb = np.array([(1 - t) * b0 + t * b1 for t in ts])
        pb /= np.linalg.norm(pb, axis=1, keepdims=True)
        diff = pa[:, None, :] - pb[None, :, :]
        sample_min = float((diff ** 2).sum(axis=2).min())
        assert d_ab <= sample_min + 1e-12
    # crossing and shared-vertex pairs are exactly zero
    assert float(ek.edge_pair_min_chord2(
        pt(0, -1)[None], pt(0, 1)[None], pt(-1, 0)[None], pt(1, 0)[None])[0]) == 0.0
    assert float(ek.edge_pair_min_chord2(
        pt(0, 0)[None], pt(0, 1)[None], pt(0, 1)[None], pt(1, 1)[None])[0]) == 0.0


def _quad_text_(clat, clng, h):
    pts = [(clat - h, clng - h), (clat - h, clng + h),
           (clat + h, clng + h), (clat + h, clng - h)]
    return ", ".join(f"{la!r}:{ln!r}" for la, ln in pts)


def test_crossing_pairs_all_includes_shared_vertices(spark):
    """CrossingType.ALL (S2CrossingEdgesQuery.java:236-247): pairs that
    intersect only via a shared vertex (robustCrossing == 0,
    S2EdgeUtil.java:1782-1795) are reported with is_interior=false;
    proper crossings carry is_interior=true and equal the INTERIOR set."""
    from s2_geometry_library_java_spark.operators import edgequeries
    from s2_geometry_library_java_spark.operators import shapes as shape_ops

    a_specs = {"a0": (10.0, 10.0, 4.0), "a1": (-20.0, 100.0, 5.0)}
    # b0: shifted overlap (proper crossings); a0c: EXACT copy of a0
    # (every same-index edge pair shares both vertices, adjacent pairs one)
    b_specs = {"b0": (12.0, 12.0, 4.0), "a0c": (10.0, 10.0, 4.0)}
    sa = spark.createDataFrame(
        [(k, _quad_text_(*v)) for k, v in a_specs.items()],
        "shape_id string, text string")
    sb = spark.createDataFrame(
        [(k, _quad_text_(*v)) for k, v in b_specs.items()],
        "shape_id string, text string")
    ia = shape_ops.shape_index_df(sa, min_level=5)
    ib = shape_ops.shape_index_df(sb, min_level=5)
    got = {
        (r["a_shape"], r["a_edge"], r["b_shape"], r["b_edge"]): r["is_interior"]
        for r in edgequeries.crossing_edge_pairs(
            ia, ib, level=5, crossing_type="all").collect()
    }
    interior = {
        (r["a_shape"], r["a_edge"], r["b_shape"], r["b_edge"])
        for r in edgequeries.crossing_edge_pairs(ia, ib, level=5).collect()
    }
    # brute force: robustCrossing == 0 iff shared vertex; +1 iff kernel
    # proper-crossing cascade says so
    want = {}
    for ka, va in a_specs.items():
        pa = rg.Polygon.from_text(_quad_text_(*va)).loops[0].vertices
        for kb, vb in b_specs.items():
            pb = rg.Polygon.from_text(_quad_text_(*vb)).loops[0].vertices
            for i in range(4):
                for j in range(4):
                    A, B = pa[i], pa[(i + 1) % 4]
                    C, D = pb[j], pb[(j + 1) % 4]
                    if any((P == Q).all() for P in (A, B) for Q in (C, D)):
                        want[(ka, i, kb, j)] = False
                    elif predicates._arcs_cross_scalar(A, B, C, D):
                        want[(ka, i, kb, j)] = True
    assert got == want
    assert interior == {k for k, v in want.items() if v}
    # the exact-copy shape contributes 4 same-edge + 8 adjacent pairs
    assert sum(1 for (ka, i, kb, j), v in want.items()
               if ka == "a0" and kb == "a0c" and not v) == 12
