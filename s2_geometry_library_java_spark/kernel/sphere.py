"""Spherical vector math: chord angles, haversine, cell metrics, Earth units.

Vectorized numpy equivalents of S1ChordAngle.java, S2LatLng.java:288-301,
S2.java metric definitions (:203-279 with derivs from S2Projections.java),
and S2Earth.java unit conversions.
"""

from __future__ import annotations

import numpy as np

# Earth radius used by the reference (S2Earth.java:53): meters.
EARTH_RADIUS_METERS = 1000 * 6371.01

# Metric derivs for the quadratic projection (S2Projections.java:230-252).
MIN_AREA_DERIV = 8 * np.sqrt(2) / 9  # 1.257
AVG_AREA_DERIV = 4 * np.pi / 6  # exact: avg cell area = sphere/6 cells
MAX_AREA_DERIV = 2.635799256963161491
MIN_ANGLE_SPAN_DERIV = 4.0 / 3
MAX_ANGLE_SPAN_DERIV = 1.704897179199218452
MIN_WIDTH_DERIV = 2 * np.sqrt(2) / 3
AVG_WIDTH_DERIV = 1.434523672886099389
MIN_EDGE_DERIV = 2 * np.sqrt(2) / 3
AVG_EDGE_DERIV = 1.459213746386106062
MIN_DIAG_DERIV = 8 * np.sqrt(2) / 9
MAX_DIAG_DERIV = 2.438654594434021032
AVG_DIAG_DERIV = 2.060422738998471683


def cross3(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Component cross product, broadcast over leading axes — bit-equal to
    np.cross on float64 but without its moveaxis/axis-normalization Python
    overhead (np.cross dominates kernel profiles at small batch sizes)."""
    ax, ay, az = a[..., 0], a[..., 1], a[..., 2]
    bx, by, bz = b[..., 0], b[..., 1], b[..., 2]
    out = np.empty(
        np.broadcast_shapes(a.shape[:-1], b.shape[:-1]) + (3,), dtype=np.float64
    )
    out[..., 0] = ay * bz - az * by
    out[..., 1] = az * bx - ax * bz
    out[..., 2] = ax * by - ay * bx
    return out


def metric_value(deriv: float, level, dim: int = 1):
    """Metric.getValue (S2.java:210-214): deriv * 2^(-dim*level)."""
    return deriv * np.power(2.0, -dim * np.asarray(level, dtype=np.float64))


def metric_max_level(deriv: float, value: float, dim: int = 1) -> int:
    """Largest level where metric >= value (S2.java:268-279): extracts the
    IEEE exponent of deriv/value exactly like Math.getExponent — float
    log2 can be one level off near powers of two."""
    if value <= 0:
        return 30
    import math

    exponent = math.frexp(deriv / value)[1] - 1  # Math.getExponent
    lvl = exponent >> (dim - 1)
    return max(0, min(30, lvl))


def meters_to_radians(m):
    return np.asarray(m, dtype=np.float64) / EARTH_RADIUS_METERS


def radians_to_meters(r):
    return np.asarray(r, dtype=np.float64) * EARTH_RADIUS_METERS


# ---------------------------------------------------------------------------
# Chord angles (S1ChordAngle.java): distance as squared chord length in [0,4].
# Monotone with angle, cheap, and exact under comparison — ALL engine distance
# comparisons use length2, matching the reference.
# ---------------------------------------------------------------------------

def chord2_between(x1, y1, z1, x2, y2, z2):
    """Squared chord length between unit vectors (S1ChordAngle.java:335)."""
    dx = x1 - x2
    dy = y1 - y2
    dz = z1 - z2
    return np.minimum(4.0, dx * dx + dy * dy + dz * dz)


def chord2_from_angle(radians):
    """S1ChordAngle.fromS1Angle: (2*sin(min(pi,a)/2))^2."""
    a = np.asarray(radians, dtype=np.float64)
    half = 0.5 * np.minimum(np.pi, a)
    s = 2.0 * np.sin(half)
    return s * s


def angle_from_chord2(length2):
    """S1ChordAngle.toAngle: 2*asin(0.5*sqrt(length2))."""
    return 2.0 * np.arcsin(0.5 * np.sqrt(np.asarray(length2, dtype=np.float64)))


def angle_between(x1, y1, z1, x2, y2, z2):
    """Stable angle via atan2(|a x b|, a.b) (S2Point.angle)."""
    cx = y1 * z2 - z1 * y2
    cy = z1 * x2 - x1 * z2
    cz = x1 * y2 - y1 * x2
    dot = x1 * x2 + y1 * y2 + z1 * z2
    return np.arctan2(np.sqrt(cx * cx + cy * cy + cz * cz), dot)


def haversine_distance(lat1, lng1, lat2, lng2):
    """S2LatLng.getDistance (S2LatLng.java:288-301), radians in/out."""
    lat1 = np.asarray(lat1, dtype=np.float64)
    lat2 = np.asarray(lat2, dtype=np.float64)
    dlat = np.sin(0.5 * (lat2 - lat1))
    dlng = np.sin(0.5 * (np.asarray(lng2, np.float64) - np.asarray(lng1, np.float64)))
    x = dlat * dlat + dlng * dlng * np.cos(lat1) * np.cos(lat2)
    return 2.0 * np.arcsin(np.sqrt(np.minimum(1.0, x)))


def triangle_area(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Area of spherical triangles, (n,3) arrays (S2.area, S2.java:341-380):
    l'Huilier's formula, accurate for small triangles (the Girard fallback
    for near-degenerate large triangles is applied via clamping)."""

    def side(u, v):
        return angle_between(u[..., 0], u[..., 1], u[..., 2], v[..., 0], v[..., 1], v[..., 2])

    sa = side(b, c)
    sb = side(c, a)
    sc = side(a, b)
    s = 0.5 * (sa + sb + sc)
    with np.errstate(invalid="ignore"):
        t = np.tan(0.5 * s) * np.tan(0.5 * (s - sa)) * np.tan(0.5 * (s - sb)) * np.tan(
            0.5 * (s - sc)
        )
    return 4.0 * np.arctan(np.sqrt(np.maximum(t, 0.0)))


def edge_true_centroid(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """True centroid of edge AB times its length (S2.trueCentroid
    S2.java:481-493), vectorized (...,3)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    v_diff = a - b
    v_sum = a + b
    sin2 = (v_diff * v_diff).sum(axis=-1)
    cos2 = (v_sum * v_sum).sum(axis=-1)
    with np.errstate(divide="ignore", invalid="ignore"):
        scale = np.sqrt(sin2 / cos2)
    scale = np.where(cos2 == 0, 0.0, scale)  # antipodal edges -> zero
    return v_sum * scale[..., None]


def triangle_true_centroid(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """True centroid of spherical triangle ABC times its SIGNED area
    (S2.trueCentroid S2.java:501-537) — the summable quantity for loop /
    union centroids. Vectorized (...,3)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    c = np.asarray(c, dtype=np.float64)

    def ang(u, v):
        return angle_between(
            u[..., 0], u[..., 1], u[..., 2], v[..., 0], v[..., 1], v[..., 2]
        )

    a_angle = ang(b, c)
    b_angle = ang(c, a)
    c_angle = ang(a, b)
    with np.errstate(divide="ignore", invalid="ignore"):
        ra = np.where(a_angle == 0, 1.0, a_angle / np.sin(a_angle))
        rb = np.where(b_angle == 0, 1.0, b_angle / np.sin(b_angle))
        rc = np.where(c_angle == 0, 1.0, c_angle / np.sin(c_angle))
    # rows (A; B-A; C-A) per axis, solved by Cramer's rule
    x = np.stack([a[..., 0], b[..., 0] - a[..., 0], c[..., 0] - a[..., 0]], axis=-1)
    y = np.stack([a[..., 1], b[..., 1] - a[..., 1], c[..., 1] - a[..., 1]], axis=-1)
    z = np.stack([a[..., 2], b[..., 2] - a[..., 2], c[..., 2] - a[..., 2]], axis=-1)
    r = np.stack([ra, rb - ra, rc - ra], axis=-1)

    def triple(u, v, w):
        return (u * cross3(v, w)).sum(axis=-1)

    return 0.5 * np.stack(
        [triple(r, y, z), triple(r, z, x), triple(r, x, y)], axis=-1
    )


def loop_centroid(vertices: np.ndarray) -> np.ndarray:
    """Area-weighted true centroid of a loop (sum of fan-triangle
    centroids from vertex 0) — NOT normalized; callers normalize or sum
    across loops first (S2ShapeMeasures semantics)."""
    v = np.asarray(vertices, dtype=np.float64)
    if len(v) < 3:
        return np.zeros(3)
    a = np.broadcast_to(v[0], (len(v) - 2, 3))
    b = v[1:-1]
    c = v[2:]
    return triangle_true_centroid(a, b, c).sum(axis=0)


def raw_signed_loop_area(vertices: np.ndarray) -> float:
    """Signed fan-sum area of an ORIENTED loop, WITHOUT the single-loop
    [0, 4pi) adjustment: CCW interior -> positive, CW (hole) -> negative
    (S2ShapeMeasures.java:193 signedLoopArea semantics — shape-level
    callers sum per-loop values and adjust once, so holes subtract)."""
    v = np.asarray(vertices, dtype=np.float64)
    if len(v) < 3:
        return 0.0
    a = np.broadcast_to(v[0], (len(v) - 2, 3))
    b = v[1:-1]
    c = v[2:]
    # signed spherical excess via the dihedral-angle (Girard) formula
    ab = cross3(a, b)
    bc = cross3(b, c)
    ca = cross3(c, a)

    def ang(u, w):
        nu = u / np.sqrt((u * u).sum(axis=-1, keepdims=True))
        nw = w / np.sqrt((w * w).sum(axis=-1, keepdims=True))
        return np.arctan2(
            np.sqrt((cross3(nu, nw) ** 2).sum(axis=-1)), -(nu * nw).sum(axis=-1)
        )

    area = ang(ab, ca) + ang(bc, ab) + ang(ca, bc) - np.pi
    sign = np.where((ab * c).sum(axis=-1) > 0, 1.0, -1.0)
    return float((sign * np.abs(area)).sum())


def signed_loop_area(vertices: np.ndarray) -> float:
    """Signed area of a loop: sum of signed triangle areas from an origin
    vertex (S2Loop.getArea semantics: CCW interior -> positive, in
    [0, 4pi); computed via the shoelace-on-sphere Girard sum).
    Vectorized over the fan triangles (one pass, no per-triangle loop)."""
    total = raw_signed_loop_area(vertices)
    if total < 0:
        total += 4.0 * np.pi
    return float(total)


def turn_angle(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> float:
    """Exterior turn angle at b along a->b->c (S2.turnAngle S2.java:600):
    the angle between robustCrossProd(a,b) and robustCrossProd(b,c),
    signed by the orientation predicate (exact-sign cascade, so turns
    near 180 degrees get the right sign)."""
    from . import edges as ek
    from . import predicates

    u = ek.robust_cross_prod(a[None, :], b[None, :])[0]
    w = ek.robust_cross_prod(b[None, :], c[None, :])[0]
    x = np.cross(u, w)
    angle = float(np.arctan2(np.sqrt(x @ x), u @ w))
    s = int(predicates.sign_batch(a[None, :], b[None, :], c[None, :])[0])
    return angle if s > 0 else -angle


def loop_curvature(vertices: np.ndarray) -> float:
    """Geodesic curvature: the sum of vertex turn angles
    (S2ShapeMeasures.turningAngle). Positive for CCW loops, negative for
    CW, and by Gauss-Bonnet equal to 2*pi - area. Kahan-compensated sum;
    simplification vs the reference: no canonical vertex order, so
    rotations of the vertex list may differ by fp rounding (reversal
    still negates the result up to rounding)."""
    v = np.asarray(vertices, dtype=np.float64)
    n = len(v)
    if n == 0:
        return -2.0 * np.pi  # full-loop convention
    if n < 3:
        return 2.0 * np.pi  # degenerate
    total = 0.0
    comp = 0.0
    for i in range(n):
        t = turn_angle(v[i - 1], v[i], v[(i + 1) % n])
        y = t - comp
        s = total + y
        comp = (s - total) - y
        total = s
    limit = 2.0 * np.pi
    return max(-limit, min(limit, total))


def polyline_length(vertices: np.ndarray) -> float:
    """Total geodesic length of an open chain (S2Polyline.getArclengthAngle)
    via the chord form 2*asin(|a-b|/2) per edge (the same per-edge length
    the chain-interpolation oracle uses)."""
    v = np.asarray(vertices, dtype=np.float64)
    if len(v) < 2:
        return 0.0
    d = v[1:] - v[:-1]
    return float(np.sum(2.0 * np.arcsin(0.5 * np.sqrt((d * d).sum(axis=1)))))
