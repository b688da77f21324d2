"""S2CellUnionTest parity (S2CellUnionTest.java:48-425): the addCells
normalize property (inputs selected at every level with a predetermined
expected normalization), containment monotonicity, and the union/contains
basics — against union_normalize (kernel/coverer.py, D5/D6). RNG is
numpy-seeded: geometry
family and invariants match the reference's test, draws are not
seed-bit-matched."""

import numpy as np

from s2_geometry_library_java_spark.kernel import cellid as c
from s2_geometry_library_java_spark.kernel import coverer as cov

MAX_LEVEL = 30


def _from_face(face):
    return int(c.from_face(np.array([face]))[0])


def _child_begin(cid):
    return int(c.child_begin(np.array([cid], dtype=np.uint64))[0])


def _next(cid):
    return int(c.next_cell(np.array([cid], dtype=np.uint64))[0])


def _level(cid):
    return int(c.level(np.array([cid], dtype=np.uint64))[0])


def _is_leaf(cid):
    return _level(cid) == MAX_LEVEL


def _add_cells(rng, cid, selected, input_ids, expected):
    """Port of S2CellUnionTest.addCells (S2CellUnionTest.java:154-215):
    select cells so normalize(input) == expected at every level mix."""
    def one_in(n):
        return rng.randint(n) == 0

    if cid is None:
        for face in range(6):
            _add_cells(rng, _from_face(face), False, input_ids, expected)
        return
    if _is_leaf(cid):
        assert selected
        input_ids.append(cid)
        return
    if not selected and not one_in(MAX_LEVEL - _level(cid)):
        expected.append(cid)
        selected = True
    added = False
    if selected and not one_in(6):
        input_ids.append(cid)
        added = True
    num_children = 0
    child = _child_begin(cid)
    for _pos in range(4):
        if one_in(12 if selected else 4) and num_children < 3:
            _add_cells(rng, child, selected, input_ids, expected)
            num_children += 1
        if selected and not added:
            _add_cells(rng, child, selected, input_ids, expected)
        child = _next(child)


def test_normalize_addcells_property():
    """normalize(input) == expected for 30 generated cases
    (S2CellUnionTest.testNormalize)."""
    rng = np.random.RandomState(123455)
    nontrivial = 0
    for _ in range(30):
        input_ids, expected = [], []
        _add_cells(rng, None, False, input_ids, expected)
        got = cov.union_normalize([int(x) for x in input_ids])
        want = sorted(
            int(np.uint64(e) ^ np.uint64(1 << 63)) for e in expected
        )
        got_biased = sorted(
            int(np.uint64(g) ^ np.uint64(1 << 63)) for g in got
        )
        assert got_biased == want, (len(input_ids), len(expected))
        if expected:
            nontrivial += 1
    assert nontrivial >= 20


def test_basic_face_unions():
    """S2CellUnionTest.testBasic: single-face unions and containment."""
    assert cov.union_normalize([]) == []
    f1 = _from_face(1)
    f2 = _from_face(2)
    u1 = cov.union_normalize([f1])
    assert len(u1) == 1 and int(u1[0]) == f1
    # face-1 union contains face-1 cells, not face-2 cells
    lo1, hi1 = c.range_min(np.array([f1], dtype=np.uint64)), c.range_max(
        np.array([f1], dtype=np.uint64)
    )
    child2 = _child_begin(f2)
    b = lambda v: int(np.uint64(v) ^ np.uint64(1 << 63))
    assert b(lo1[0]) <= b(_child_begin(f1)) <= b(hi1[0])
    assert not (b(lo1[0]) <= b(child2) <= b(hi1[0]))


def test_contains_monotone_under_parent_and_superset():
    """S2CellUnionTest.testContainsCellUnion: a union plus one more leaf
    contains the original; the parent union contains the child union."""
    rng = np.random.RandomState(7)

    def random_leaf():
        face = rng.randint(6)
        i = rng.randint(0, c.MAX_SIZE)
        j = rng.randint(0, c.MAX_SIZE)
        return int(c.from_face_ij(np.array([face]), np.array([i]), np.array([j]))[0])

    leaves = {random_leaf() for _ in range(100)}
    union = cov.union_normalize([int(x) for x in leaves])
    extra = random_leaf()
    while extra in leaves:
        extra = random_leaf()
    plus_one = cov.union_normalize([int(x) for x in leaves | {extra}])

    def contains_union(a, bset):
        """every cell of bset inside some range of a (biased order)."""
        ab = sorted(
            (int(np.uint64(c.range_min(np.array([x], dtype=np.uint64))[0]) ^ np.uint64(1 << 63)),
             int(np.uint64(c.range_max(np.array([x], dtype=np.uint64))[0]) ^ np.uint64(1 << 63)))
            for x in a
        )
        for y in bset:
            ylo = int(np.uint64(c.range_min(np.array([y], dtype=np.uint64))[0]) ^ np.uint64(1 << 63))
            yhi = int(np.uint64(c.range_max(np.array([y], dtype=np.uint64))[0]) ^ np.uint64(1 << 63))
            if not any(lo <= ylo and yhi <= hi for lo, hi in ab):
                return False
        return True

    assert contains_union(plus_one, union)
    assert not contains_union(union, plus_one)

    parents = {
        int(c.parent(np.array([x], dtype=np.uint64), 29)[0]) for x in leaves
    }
    parent_union = cov.union_normalize([int(x) for x in parents])
    assert contains_union(parent_union, union)
    assert not contains_union(union, parent_union)


def test_expand_radius_covers_nearby_points():
    """S2CellUnionTest.testExpand invariant: after expand(min_radius),
    every sampled point within min_radius of the original union is
    covered by the expanded union."""
    from s2_geometry_library_java_spark.kernel import cellid as ci
    from s2_geometry_library_java_spark.kernel import sphere

    rng = np.random.RandomState(21)
    for _ in range(10):
        # a small cluster of level-10..14 cells
        lat0, lng0 = rng.uniform(-60, 60), rng.uniform(-170, 170)
        ids = []
        for _k in range(6):
            la = lat0 + rng.uniform(-0.5, 0.5)
            ln = lng0 + rng.uniform(-0.5, 0.5)
            lvl = rng.randint(10, 15)
            ids.append(int(c.parent(
                ci.latlng_degrees_to_cell_id(np.float64(la), np.float64(ln)), lvl
            )))
        base = cov.union_normalize(ids)
        radius = rng.uniform(0.5, 3.0) * 1e-3  # radians
        grown = cov.union_expand_radius(base, radius)

        def covered(union, leaf):
            b = lambda v: int(np.uint64(v) ^ np.uint64(1 << 63))
            for u in union:
                lo = b(int(c.range_min(np.array([u], dtype=np.uint64))[0]))
                hi = b(int(c.range_max(np.array([u], dtype=np.uint64))[0]))
                if lo <= b(leaf) <= hi:
                    return True
            return False

        # sample points at distance <= radius from random base-cell centers
        for _s in range(40):
            u = base[rng.randint(len(base))]
            cx, cy, cz = ci.cell_id_to_xyz(np.array([u], dtype=np.uint64))
            p = np.array([float(cx[0]), float(cy[0]), float(cz[0])])
            # random offset within the radius
            t = rng.normal(size=3)
            t -= (t @ p) * p
            t /= np.linalg.norm(t)
            ang = rng.uniform(0, radius)
            q = p * np.cos(ang) + t * np.sin(ang)
            q /= np.linalg.norm(q)
            # q is within radius of the BASE union (distance to u's center
            # <= radius, so distance to the union <= radius)
            leaf = int(np.atleast_1d(ci.xyz_to_cell_id(q[0], q[1], q[2]))[0])
            # center may be outside the cell's own coverage only if q
            # drifted past the boundary; the expand guarantee still holds
            # because distance(q, union) <= ang <= radius
            assert covered(grown, leaf), (ang, radius)
