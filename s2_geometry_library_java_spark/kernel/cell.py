"""S2Cell geometry: derived (never stored) face/level/uv-bounds + vertex,
edge-normal, and point-containment math. Parity: S2Cell.java:93-240,
S2Projections getUNorm/getVNorm :858-899.

``Cell`` is a scalar object for one cell's geometry (areas, distances,
the cap/rect/polyline cell tests). The batched forms below take arrays of
cell ids: ``cells_geometry`` and ``cells_contain_points`` score the
coverer's candidate cells, and the aligned distance kernels serve the
covering-seed pruning. ``cells_contain_points`` is the one S2Cell.contains
(point) kernel.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property

import numpy as np

from . import cellid as ci


#: outward face normals, row = face (S2Projections.faceUvToXyz(face,0,0))
_FACE_NORMS = np.array(
    [
        (1.0, 0.0, 0.0),
        (0.0, 1.0, 0.0),
        (0.0, 0.0, 1.0),
        (-1.0, 0.0, 0.0),
        (0.0, -1.0, 0.0),
        (0.0, 0.0, -1.0),
    ]
)


def _get_u_norm(face: int, u: float) -> np.ndarray:
    return np.array(
        [
            (u, -1.0, 0.0),
            (1.0, u, 0.0),
            (1.0, 0.0, u),
            (-u, 0.0, 1.0),
            (0.0, -u, 1.0),
            (0.0, -1.0, -u),
        ][face]
    )


def _get_v_norm(face: int, v: float) -> np.ndarray:
    return np.array(
        [
            (-v, 0.0, 1.0),
            (0.0, -v, 1.0),
            (0.0, -1.0, -v),
            (v, -1.0, 0.0),
            (1.0, v, 0.0),
            (1.0, 0.0, v),
        ][face]
    )


@dataclass(frozen=True)
class Cell:
    """Geometric cell derived from an id (uint64 int)."""

    id: int

    @cached_property
    def _fij(self):
        f, i, j, o = ci.to_face_ij_orientation(np.uint64(self.id))
        return int(f), int(i), int(j)

    @property
    def face(self) -> int:
        return self._fij[0]

    @cached_property
    def level(self) -> int:
        return int(ci.level(np.uint64(self.id)))

    @cached_property
    def uv_bounds(self) -> tuple[float, float, float, float]:
        """(u_lo, u_hi, v_lo, v_hi) from the ij bounds (S2Cell.init)."""
        f, i, j = self._fij
        size = 1 << (ci.MAX_LEVEL - self.level)
        i_lo = i & -size
        j_lo = j & -size
        u_lo = float(ci.st_to_uv(ci.ij_to_st_min(i_lo)))
        u_hi = float(ci.st_to_uv(ci.ij_to_st_min(i_lo + size)))
        v_lo = float(ci.st_to_uv(ci.ij_to_st_min(j_lo)))
        v_hi = float(ci.st_to_uv(ci.ij_to_st_min(j_lo + size)))
        return u_lo, u_hi, v_lo, v_hi

    @cached_property
    def vertices(self) -> np.ndarray:
        """(4,3) unit vertices in CCW order SW,SE,NE,NW (S2Cell.java:197-203)."""
        u_lo, u_hi, v_lo, v_hi = self.uv_bounds
        us = [u_lo, u_hi, u_hi, u_lo]
        vs = [v_lo, v_lo, v_hi, v_hi]
        x, y, z = ci.face_uv_to_xyz(np.full(4, self.face), np.array(us), np.array(vs))
        v = np.stack([x, y, z], axis=1)
        return v / np.sqrt((v * v).sum(axis=1, keepdims=True))

    @cached_property
    def edge_normals_raw(self) -> np.ndarray:
        """(4,3) inward normals: bottom, right, top, left (S2Cell.java:215-227)."""
        u_lo, u_hi, v_lo, v_hi = self.uv_bounds
        return np.stack(
            [
                _get_v_norm(self.face, v_lo),
                _get_u_norm(self.face, u_hi),
                -_get_v_norm(self.face, v_hi),
                -_get_u_norm(self.face, u_lo),
            ]
        )

    def average_area(self) -> float:
        from . import sphere

        return float(sphere.metric_value(sphere.AVG_AREA_DERIV, self.level, dim=2))

    def approx_area(self) -> float:
        """Flat-quad area corrected as a spherical cap — within 3% always,
        0.1% for level >= 5 (S2Cell.approxArea, S2Cell.java:394-413)."""
        if self.level < 2:
            return self.average_area()
        v = self.vertices
        d = np.cross(v[2] - v[0], v[3] - v[1])
        flat = 0.5 * float(np.sqrt(d @ d))
        return flat * 2.0 / (1.0 + np.sqrt(1.0 - min(flat / np.pi, 1.0)))

    def exact_area(self) -> float:
        """Two-triangle l'Huilier split, 6 digits even at leaf level
        (S2Cell.exactArea, S2Cell.java:420-426)."""
        from . import sphere

        v = self.vertices
        return float(
            sphere.triangle_area(v[0][None], v[1][None], v[2][None])[0]
            + sphere.triangle_area(v[0][None], v[2][None], v[3][None])[0]
        )

    def distance_chord2(self, points: np.ndarray) -> np.ndarray:
        """A19 S2Cell.getDistance (S2Cell.java:665-760) batch: squared-
        chord distance from each point to the cell — 0 inside, else the
        min distance to the 4 boundary edges."""
        from . import edges as ek

        pts = np.atleast_2d(np.asarray(points, dtype=np.float64))
        v = self.vertices
        vb = np.roll(v, -1, axis=0)
        d = ek.min_chord2_points_to_chain(pts, v, vb)
        n = len(pts)
        inside = cells_contain_points(
            np.full(n, self.face), np.tile(self.uv_bounds, (n, 1)), pts
        )
        return np.where(inside, 0.0, d)

    def max_distance_chord2(self, points: np.ndarray) -> np.ndarray:
        """A19 S2Cell.getMaxDistance: max chord2 from each point to any
        point of the cell (antipode trick, S2Cell.java:848-948)."""
        from . import edges as ek
        from . import sphere

        pts = np.atleast_2d(np.asarray(points, dtype=np.float64))
        v = self.vertices
        # max over the 4 vertices is exact for convex cells unless the
        # antipode intersects the cell, in which case it's STRAIGHT - min
        d = np.zeros(len(pts))
        for k in range(4):
            d = np.maximum(
                d,
                sphere.chord2_between(
                    pts[:, 0], pts[:, 1], pts[:, 2], v[k, 0], v[k, 1], v[k, 2]
                ),
            )
        far = d > 2.0
        if np.any(far):
            dmin = self.distance_chord2(-pts[far])
            ang = np.pi - sphere.angle_from_chord2(dmin)
            d[far] = np.maximum(d[far], sphere.chord2_from_angle(ang))
        return np.minimum(d, 4.0)

    def expanded_by_distance_uv(
        self, distance_rad: float
    ) -> tuple[float, float, float, float] | None:
        """A15 S2CellId.expandedByDistanceUV (S2CellId.java:1377-1447):
        (u,v) bounds buffered so every point within ``distance_rad`` of the
        cell lies inside — the buffered-tile join predicate. Negative
        distance shrinks (conservatively). Returns (u0,u1,v0,v1), or None
        when a negative distance fully collapses the bounds (the empty
        R2Rect of the reference) — callers intersecting against the result
        must treat None as empty, never as a degenerate point."""
        u0, u1, v0, v1 = self.uv_bounds
        max_u = max(abs(u0), abs(u1))
        max_v = max(abs(v0), abs(v1))
        sin_dist = float(np.sin(distance_rad))

        def expand(u, maxv, sd):
            sin_shift = sd * np.sqrt((1 + u * u + maxv * maxv) / (1 + u * u))
            cos_shift = np.sqrt(1 - sin_shift * sin_shift)
            return (cos_shift * u + sin_shift) / (cos_shift - sin_shift * u)

        x_lo, x_hi = expand(u0, max_v, -sin_dist), expand(u1, max_v, sin_dist)
        y_lo, y_hi = expand(v0, max_u, -sin_dist), expand(v1, max_u, sin_dist)
        if x_lo > x_hi or y_lo > y_hi:
            return None
        return (float(x_lo), float(x_hi), float(y_lo), float(y_hi))

    def boundary_loop_vertices(self, level: int) -> np.ndarray:
        """D12 S2CellId.toLoop(level) (S2CellId.java:360-384): the cell
        boundary as a loop with 4*2^(level-cell_level) vertices on the
        given level's st grid, CCW."""
        depth = level - self.level
        if depth < 0:
            raise ValueError("level must be >= cell level")
        u_lo, u_hi, v_lo, v_hi = self.uv_bounds
        s_lo, s_hi = float(ci.uv_to_st(u_lo)), float(ci.uv_to_st(u_hi))
        t_lo, t_hi = float(ci.uv_to_st(v_lo)), float(ci.uv_to_st(v_hi))
        corners = [(s_lo, t_lo), (s_hi, t_lo), (s_hi, t_hi), (s_lo, t_hi)]
        step = 2.0 ** -depth
        ss, ts = [], []
        b = corners[3]
        for corner in range(4):
            a, b = b, corners[corner]
            ss.append(a[0])
            ts.append(a[1])
            d = step
            while d < 1:
                ss.append((1 - d) * a[0] + d * b[0])
                ts.append((1 - d) * a[1] + d * b[1])
                d += step
        u = ci.st_to_uv(np.array(ss))
        v = ci.st_to_uv(np.array(ts))
        x, y, z = ci.face_uv_to_xyz(np.full(len(ss), self.face), u, v)
        p = np.stack([x, y, z], axis=1)
        return p / np.sqrt((p * p).sum(axis=1, keepdims=True))


# ---------------------------------------------------------------------------
# Batched cells x points kernels (A19 across many cells at once).
#
# The aligned forms take one cell id PER POINT ROW and compute every
# elementwise formula identically to the scalar Cell methods above, so
# results are bit-equal (pinned by tests/test_cell_batch.py). Used by the
# covering-seed pruning paths, where a pandas batch carries thousands of
# (covering_cell, query_point) rows spanning many distinct cells, and by
# the coverer's batched cell tests (kernel/region.py).
# ---------------------------------------------------------------------------


def _as_u64_ids(cell_ids) -> np.ndarray:
    arr = np.asarray(cell_ids)
    if arr.dtype != np.uint64:
        arr = arr.astype(np.int64).view(np.uint64)
    return arr


def cells_geometry(unique_ids: np.ndarray):
    """Vectorized (face, uv_bounds (n,4), vertices (n,4,3)) for a batch of
    distinct cell ids — S2Cell.init across rows (S2Cell.java:93-140)."""
    cids = _as_u64_ids(unique_ids)
    face, i, j, _ = ci.to_face_ij_orientation(cids)
    lev = np.asarray(ci.level(cids), dtype=np.int64)
    size = np.int64(1) << (ci.MAX_LEVEL - lev)
    i_lo = i & -size
    j_lo = j & -size
    uvb = ci.st_to_uv(ci.ij_to_st_min(np.stack([i_lo, i_lo + size, j_lo, j_lo + size], axis=1)))
    u_lo, u_hi, v_lo, v_hi = uvb.T
    # vertex order SW,SE,NE,NW as in Cell.vertices
    us = np.stack([u_lo, u_hi, u_hi, u_lo], axis=1)
    vs = np.stack([v_lo, v_lo, v_hi, v_hi], axis=1)
    f4 = np.repeat(np.asarray(face, dtype=np.int64), 4)
    x, y, z = ci.face_uv_to_xyz(f4, us.ravel(), vs.ravel())
    verts = np.stack([x, y, z], axis=1).reshape(-1, 4, 3)
    verts = verts / np.sqrt((verts * verts).sum(axis=2, keepdims=True))
    return np.asarray(face, dtype=np.int64), uvb, verts


def _aligned_geometry(cell_ids):
    """Per-row geometry gathered from the unique-cell vectorized pass."""
    cids = _as_u64_ids(cell_ids)
    uniq, inv = np.unique(cids, return_inverse=True)
    face, uvb, verts = cells_geometry(uniq)
    return face[inv], uvb[inv], verts[inv]


def cells_contain_points(face: np.ndarray, uvb: np.ndarray,
                         pts: np.ndarray) -> np.ndarray:
    """Aligned S2Cell.contains(point) (S2Cell.java:435-447, projected to
    the cell's face): row k tests pts[k] against the cell geometry in row
    k; a point on the far hemisphere of the face is outside."""
    hemi = (pts * _FACE_NORMS[face]).sum(axis=1) > 0
    with np.errstate(divide="ignore", invalid="ignore"):
        u, v = ci.face_xyz_to_uv(face, pts[:, 0], pts[:, 1], pts[:, 2])
        inside = (
            (uvb[:, 0] <= u) & (u <= uvb[:, 1])
            & (uvb[:, 2] <= v) & (v <= uvb[:, 3])
        )
    return hemi & inside


def cells_distance_chord2(cell_ids, points: np.ndarray) -> np.ndarray:
    """Aligned batch of Cell.distance_chord2: row k is the min squared-
    chord distance from points[k] to cell cell_ids[k] (0 when inside)."""
    from . import edges as ek

    pts = np.atleast_2d(np.asarray(points, dtype=np.float64))
    face, uvb, verts = _aligned_geometry(cell_ids)
    va = verts
    vb = np.roll(verts, -1, axis=1)
    c = ek.robust_cross_prod(va.reshape(-1, 3), vb.reshape(-1, 3)).reshape(va.shape)
    d = ek.min_chord2_to_edges(pts[:, None, :], va, vb, c).min(axis=1)
    inside = cells_contain_points(face, uvb, pts)
    return np.where(inside, 0.0, d)


def cells_max_distance_chord2(cell_ids, points: np.ndarray) -> np.ndarray:
    """Aligned batch of Cell.max_distance_chord2 (antipode trick)."""
    from . import sphere

    pts = np.atleast_2d(np.asarray(points, dtype=np.float64))
    _, _, verts = _aligned_geometry(cell_ids)
    d = np.zeros(len(pts))
    for k in range(4):
        d = np.maximum(
            d,
            sphere.chord2_between(
                pts[:, 0], pts[:, 1], pts[:, 2],
                verts[:, k, 0], verts[:, k, 1], verts[:, k, 2],
            ),
        )
    far = d > 2.0
    if np.any(far):
        dmin = cells_distance_chord2(_as_u64_ids(cell_ids)[far], -pts[far])
        ang = np.pi - sphere.angle_from_chord2(dmin)
        d[far] = np.maximum(d[far], sphere.chord2_from_angle(ang))
    return np.minimum(d, 4.0)
