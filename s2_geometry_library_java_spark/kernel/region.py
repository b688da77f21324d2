"""Query regions: spherical cap, lat/lng rect, loop, polygon.

Vectorized point-containment kernels (points as numpy xyz arrays) plus the
3-valued cell tests the coverer needs. Parity targets: S2Cap.java,
S2LatLngRectBase.java, S2Loop.java:1303-1373, S2Polygon.java:3043-3070.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from . import cellid as ci
from . import intervals as iv
from . import sphere


@dataclass(frozen=True)
class Cap:
    """Spherical disc: center (unit xyz) + radius as squared chord length
    (S2Cap.java:99-132). radius2 < 0 = empty; radius2 = 4 = full sphere."""

    center: tuple[float, float, float]
    radius2: float

    @staticmethod
    def from_latlng_deg(lat: float, lng: float, radius_deg: float) -> "Cap":
        x, y, z = ci.latlng_to_xyz(np.radians(lat), np.radians(lng))
        r2 = float(sphere.chord2_from_angle(np.radians(radius_deg)))
        return Cap((float(x), float(y), float(z)), r2)

    def contains_points(self, x, y, z) -> np.ndarray:
        """chord2(center, p) <= radius2 (S2Cap.contains, S2Cap.java:600-604)."""
        cx, cy, cz = self.center
        return sphere.chord2_between(x, y, z, cx, cy, cz) <= self.radius2

    def bound_angle(self) -> float:
        return float(sphere.angle_from_chord2(max(0.0, self.radius2)))

    # -- full S2Cap surface (S2Cap.java:178-360, chord2 arithmetic) ------

    @staticmethod
    def empty() -> "Cap":
        return Cap((1.0, 0.0, 0.0), -1.0)

    @staticmethod
    def full() -> "Cap":
        return Cap((1.0, 0.0, 0.0), 4.0)

    @staticmethod
    def from_axis_height(axis, height: float) -> "Cap":
        """radius2 = 2 * height (S2Cap.fromAxisHeight)."""
        return Cap(tuple(float(v) for v in axis), 2.0 * float(height))

    @staticmethod
    def from_axis_angle(axis, radians: float) -> "Cap":
        """Out-of-range angles clamp: negative => empty, >= pi => full
        (S2Cap.fromAxisAngle)."""
        if radians < 0:
            return Cap(tuple(float(v) for v in axis), -1.0)
        r2 = min(4.0, float(sphere.chord2_from_angle(min(radians, np.pi))))
        return Cap(tuple(float(v) for v in axis), r2)

    def is_empty(self) -> bool:
        return self.radius2 < 0

    def is_full(self) -> bool:
        return self.radius2 >= 4.0

    def height(self) -> float:
        return 0.5 * self.radius2

    def angle(self) -> float:
        """Radians; -1 for empty (S1ChordAngle.toAngle)."""
        if self.is_empty():
            return -1.0
        return 2.0 * float(np.arcsin(0.5 * np.sqrt(self.radius2)))

    def area(self) -> float:
        """2*pi*height (S2Cap.area)."""
        return 2.0 * np.pi * max(0.0, self.height())

    def centroid(self) -> np.ndarray:
        """True centroid scaled by cap area; origin for empty/singleton
        (S2Cap.getCentroid S2Cap.java:178-189)."""
        if self.is_empty():
            return np.zeros(3)
        r = 1.0 - 0.5 * self.height()
        return np.asarray(self.center) * (r * self.area())

    def complement(self) -> "Cap":
        """Same boundary, no shared interior; full <-> empty
        (S2Cap.complement S2Cap.java:226-237)."""
        if self.is_full():
            return Cap.empty()
        if self.is_empty():
            return Cap.full()
        ax = tuple(-v for v in self.center)
        return Cap(ax, 4.0 - self.radius2)

    def _axial_chord2(self, other: "Cap") -> float:
        ox, oy, oz = other.center
        return float(sphere.chord2_between(ox, oy, oz, *self.center))

    def contains_cap(self, other: "Cap") -> bool:
        """radius >= axial_distance + other.radius in chord arithmetic
        (S2Cap.contains(S2Cap) S2Cap.java:243-249)."""
        if self.is_full() or other.is_empty():
            return True
        return self.radius2 >= _chord2_add(
            self._axial_chord2(other), max(other.radius2, 0.0)
        ) and not self.is_empty()

    def intersects_cap(self, other: "Cap") -> bool:
        if self.is_empty() or other.is_empty():
            return False
        return _chord2_add(
            max(self.radius2, 0.0), max(other.radius2, 0.0)
        ) >= self._axial_chord2(other)

    def interior_intersects(self, other: "Cap") -> bool:
        """Interior(X) intersects Y iff complement(X) doesn't contain Y
        (S2Cap.java:268-271)."""
        return not self.complement().contains_cap(other)

    def interior_contains_point(self, x, y, z) -> bool:
        cx, cy, cz = self.center
        return self.is_full() or bool(
            np.all(sphere.chord2_between(x, y, z, cx, cy, cz) < self.radius2)
        )

    def add_point(self, p) -> "Cap":
        """Grow the radius to include p; empty cap becomes the singleton
        at p (S2Cap.addPoint S2Cap.java:291-302)."""
        p = np.asarray(p, dtype=np.float64)
        if self.is_empty():
            return Cap(tuple(float(v) for v in p), 0.0)
        d2 = float(sphere.chord2_between(p[0], p[1], p[2], *self.center))
        return Cap(self.center, max(self.radius2, d2))

    def add_cap(self, other: "Cap") -> "Cap":
        """Grow to include other, keeping this axis; the sum is rounded up
        like the reference (S2Cap.addCap S2Cap.java:310-323)."""
        if self.is_empty():
            return other
        if other.is_empty():
            return self
        eps = float(np.finfo(np.float64).eps)
        d = _chord2_add(self._axial_chord2(other), max(other.radius2, 0.0))
        d = min(4.0, d + (2.0 * eps + 2.02 * eps) * d)
        return Cap(self.center, max(self.radius2, d))

    def expanded(self, radians: float) -> "Cap":
        """All points within distance of this cap; empty stays empty
        (S2Cap.expanded S2Cap.java:329-335)."""
        if radians < 0:
            raise ValueError("expansion distance must be >= 0")
        if self.is_empty():
            return Cap.empty()
        grow = float(sphere.chord2_from_angle(radians))
        return Cap(self.center, _chord2_add(self.radius2, grow))

    def rect_bound(self) -> "LatLngRect":
        """Bounding LatLngRect (S2Cap.getRectBound S2Cap.java:436-487):
        lat span = axis lat +- cap angle clamped at the poles (full lng
        when a pole is inside); otherwise the lng half-width comes from
        the spherical law of sines, sin(A) = sin(cap) / cos(axis lat)."""
        if self.is_empty():
            return LatLngRect.empty()
        if self.is_full():
            return LatLngRect.full()
        cx, cy, cz = self.center
        ax_lat, ax_lng = (float(v) for v in ci.xyz_to_latlng(cx, cy, cz))
        cap_angle = self.angle()
        lng_lo, lng_hi = -np.pi, np.pi
        all_longitudes = False
        lat_lo = ax_lat - cap_angle
        if lat_lo <= -np.pi / 2:
            lat_lo = -np.pi / 2
            all_longitudes = True
        lat_hi = ax_lat + cap_angle
        if lat_hi >= np.pi / 2:
            lat_hi = np.pi / 2
            all_longitudes = True
        if not all_longitudes:
            # S1ChordAngle.sin: sin^2 = r2 * (1 - r2/4)
            sin_a = float(np.sqrt(self.radius2 * (1.0 - 0.25 * self.radius2)))
            sin_c = float(np.cos(ax_lat))
            if sin_a <= sin_c:
                angle_a = float(np.arcsin(sin_a / sin_c))
                lng_lo = iv._ieee_rem(ax_lng - angle_a)
                lng_hi = iv._ieee_rem(ax_lng + angle_a)
        return LatLngRect(lat_lo, lat_hi, lng_lo, lng_hi)

    def union_cap(self, other: "Cap") -> "Cap":
        """Smallest cap enclosing both (S2Cap.union S2Cap.java:338-356)."""
        from . import edges as ek

        if self.radius2 < other.radius2:
            return other.union_cap(self)
        if self.is_full() or other.is_empty():
            return self
        this_r = self.angle()
        other_r = other.angle()
        a = np.asarray(self.center)
        b = np.asarray(other.center)
        distance = float(sphere.angle_between(a[0], a[1], a[2], b[0], b[1], b[2]))
        if this_r >= distance + other_r:
            return self
        result_radius = 0.5 * (distance + this_r + other_r)
        result_axis = ek.interpolate_at_distance(
            0.5 * (distance - this_r + other_r), a, b
        )
        return Cap.from_axis_angle(np.ravel(result_axis), result_radius)


def _chord2_add(a2: float, b2: float) -> float:
    """Squared chord length of the angle sum (S1ChordAngle.add,
    S1ChordAngle.java:595-633): c = 2 sin(A+B) via the product identities,
    clamped to STRAIGHT."""
    if b2 == 0.0:
        return a2
    if a2 + b2 >= 4.0:
        return 4.0
    x = a2 * (1.0 - 0.25 * b2)
    y = b2 * (1.0 - 0.25 * a2)
    return min(4.0, x + y + 2.0 * float(np.sqrt(x * y)))


@dataclass(frozen=True)
class LatLngRect:
    """lat interval x lng interval, radians; lng interval may wrap the
    dateline (lo > hi means inverted, S2LatLngRectBase semantics)."""

    lat_lo: float
    lat_hi: float
    lng_lo: float
    lng_hi: float

    @staticmethod
    def from_degrees(lat_lo, lat_hi, lng_lo, lng_hi) -> "LatLngRect":
        return LatLngRect(
            np.radians(lat_lo), np.radians(lat_hi), np.radians(lng_lo), np.radians(lng_hi)
        )

    def is_inverted(self) -> bool:
        return self.lng_lo > self.lng_hi

    def contains_latlng(self, lat, lng) -> np.ndarray:
        lat_ok = (lat >= self.lat_lo) & (lat <= self.lat_hi)
        if self.is_inverted():
            lng_ok = (lng >= self.lng_lo) | (lng <= self.lng_hi)
        else:
            lng_ok = (lng >= self.lng_lo) & (lng <= self.lng_hi)
        return lat_ok & lng_ok

    def contains_points(self, x, y, z) -> np.ndarray:
        lat, lng = ci.xyz_to_latlng(x, y, z)
        return self.contains_latlng(lat, lng)

    # -- full S2LatLngRect surface over R1/S1 intervals -----------------
    # (S2LatLngRect.java; "most methods have trivial implementations that
    # use the R1Interval and S1Interval classes", S2LatLngRectTest.java)

    @property
    def lat(self) -> "iv.R1Interval":
        return iv.R1Interval(self.lat_lo, self.lat_hi)

    @property
    def lng(self) -> "iv.S1Interval":
        return iv.S1Interval(self.lng_lo, self.lng_hi)

    @staticmethod
    def from_intervals(lat: "iv.R1Interval", lng: "iv.S1Interval") -> "LatLngRect":
        return LatLngRect(lat.lo, lat.hi, lng.lo, lng.hi)

    @staticmethod
    def empty() -> "LatLngRect":
        return LatLngRect.from_intervals(iv.R1Interval.empty(), iv.S1Interval.empty())

    @staticmethod
    def full() -> "LatLngRect":
        return LatLngRect(-np.pi / 2, np.pi / 2, -np.pi, np.pi)

    @staticmethod
    def from_point(lat: float, lng: float) -> "LatLngRect":
        li = iv.S1Interval.from_point(lng)
        return LatLngRect(lat, lat, li.lo, li.hi)

    @staticmethod
    def from_point_pair(lat1, lng1, lat2, lng2) -> "LatLngRect":
        return LatLngRect.from_intervals(
            iv.R1Interval.from_point_pair(lat1, lat2),
            iv.S1Interval.from_point_pair(lng1, lng2),
        )

    @staticmethod
    def from_center_size(clat, clng, size_lat, size_lng) -> "LatLngRect":
        """fromPoint(center).expanded(size/2) (S2LatLngRect.fromCenterSize)."""
        return LatLngRect.from_point(clat, clng).expanded(
            0.5 * size_lat, 0.5 * size_lng
        )

    def is_empty(self) -> bool:
        return self.lat.is_empty()

    def is_full(self) -> bool:
        return (
            self.lat_lo == -np.pi / 2
            and self.lat_hi == np.pi / 2
            and self.lng.is_full()
        )

    def is_valid(self) -> bool:
        return (
            abs(self.lat_lo) <= np.pi / 2
            and abs(self.lat_hi) <= np.pi / 2
            and self.lng.is_valid()
            and self.lat.is_empty() == self.lng.is_empty()
        )

    def is_point(self) -> bool:
        return self.lat_lo == self.lat_hi and self.lng_lo == self.lng_hi

    def get_center(self) -> tuple[float, float]:
        return self.lat.center(), self.lng.center()

    def get_vertex(self, k: int) -> tuple[float, float]:
        """CCW corner k (mod 4): (lo,lo), (lo,hi), (hi,hi), (hi,lo)
        (S2LatLngRect.getVertex)."""
        k &= 3
        lat = self.lat_lo if k < 2 else self.lat_hi
        lng = self.lng_lo if k in (0, 3) else self.lng_hi
        return lat, lng

    def interior_contains_latlng(self, lat: float, lng: float) -> bool:
        return self.lat.interior_contains_point(lat) and (
            self.lng.interior_contains_point(lng)
        )

    def contains_rect(self, y: "LatLngRect") -> bool:
        return self.lat.contains(y.lat) and self.lng.contains(y.lng)

    def interior_contains_rect(self, y: "LatLngRect") -> bool:
        return self.lat.interior_contains(y.lat) and self.lng.interior_contains(
            y.lng
        )

    def intersects_rect(self, y: "LatLngRect") -> bool:
        return self.lat.intersects(y.lat) and self.lng.intersects(y.lng)

    def interior_intersects_rect(self, y: "LatLngRect") -> bool:
        return self.lat.interior_intersects(y.lat) and (
            self.lng.interior_intersects(y.lng)
        )

    def union(self, y: "LatLngRect") -> "LatLngRect":
        return LatLngRect.from_intervals(
            self.lat.union(y.lat), self.lng.union(y.lng)
        )

    def intersection(self, y: "LatLngRect") -> "LatLngRect":
        lat = self.lat.intersection(y.lat)
        lng = self.lng.intersection(y.lng)
        if lat.is_empty() or lng.is_empty():
            return LatLngRect.empty()
        return LatLngRect.from_intervals(lat, lng)

    def add_point(self, lat: float, lng: float) -> "LatLngRect":
        return LatLngRect.from_intervals(
            self.lat.add_point(lat), self.lng.add_point(lng)
        )

    def expanded(self, margin_lat: float, margin_lng: float) -> "LatLngRect":
        """Expand (or with negative margins, shrink) each side; lat clamps
        to the valid range (S2LatLngRect.expanded)."""
        lat = self.lat.expanded(margin_lat).intersection(
            iv.R1Interval(-np.pi / 2, np.pi / 2)
        )
        lng = self.lng.expanded(margin_lng)
        if lat.is_empty() or lng.is_empty():
            return LatLngRect.empty()
        return LatLngRect.from_intervals(lat, lng)

    def get_cap_bound(self) -> "Cap":
        """Smaller of the pole-axis cap and the center-axis cap through
        the four vertices (S2LatLngRectBase.getCapBound)."""
        eps = float(np.finfo(np.float64).eps)
        if self.is_empty():
            return Cap.empty()
        if self.lat_lo + self.lat_hi < 0:
            pole_z, pole_angle = -1.0, np.pi / 2 + self.lat_hi
        else:
            pole_z, pole_angle = 1.0, np.pi / 2 - self.lat_lo
        pole_cap = Cap.from_axis_angle(
            np.array([0.0, 0.0, pole_z]), (1 + 2 * eps) * pole_angle
        )
        if self.lng.length() < 2 * np.pi:
            clat, clng = self.get_center()
            center = np.ravel(ci.latlng_to_xyz(clat, clng))
            mid_cap = Cap.from_axis_angle(center, 0.0)
            for k in range(4):
                vla, vln = self.get_vertex(k)
                mid_cap = mid_cap.add_point(
                    np.ravel(ci.latlng_to_xyz(vla, vln))
                )
            if mid_cap.height() < pole_cap.height():
                return mid_cap
        return pole_cap

    def polar_closure(self) -> "LatLngRect":
        """If the bound touches a pole, all longitudes at that pole are
        inside: widen lng to full (S2LatLngRect.polarClosure)."""
        if self.lat_lo == -np.pi / 2 or self.lat_hi == np.pi / 2:
            return LatLngRect.from_intervals(self.lat, iv.S1Interval.full())
        return self

    def approx_equals(self, y: "LatLngRect", max_error: float = 1e-15) -> bool:
        return (
            abs(self.lat_lo - y.lat_lo) <= max_error
            or (self.lat.is_empty() and y.lat.length() <= 2 * max_error)
            or (y.lat.is_empty() and self.lat.length() <= 2 * max_error)
        ) and (
            abs(self.lat_hi - y.lat_hi) <= max_error
            or (self.lat.is_empty() and y.lat.length() <= 2 * max_error)
            or (y.lat.is_empty() and self.lat.length() <= 2 * max_error)
        ) and self.lng.approx_equals(y.lng, max_error)


@dataclass
class Loop:
    """Simple closed spherical polygon loop, CCW interior (S2Loop.java).

    vertices: (n,3) float64 unit vectors. Containment = crossing parity
    from a fixed origin point, exactly the reference's brute-force
    ``S2Loop.contains`` (S2Loop.java:1303-1347).
    """

    vertices: np.ndarray
    origin_inside: bool = field(init=False)

    # Reference origin (S2.origin(), S2.java:100-106) — a fixed point chosen
    # to avoid coincidences with real-world geometry.
    ORIGIN = np.array(
        [-0.0099994664350250197, 0.0025924542609324121, 0.99994664350250195]
    )

    #: the reference's full-loop sentinel vertex (S2Loop.java:103
    #: FULL_VERTEX = Z_NEG): a single-vertex loop at this point is the
    #: FULL loop (contains every point, area 4*pi)
    FULL_VERTEX = np.array([0.0, 0.0, -1.0])

    def __post_init__(self):
        from . import predicates

        self.vertices = np.asarray(self.vertices, dtype=np.float64)
        if self.is_full():
            self.origin_inside = True
            return
        # S2Loop.initOriginAndBound (S2Loop.java:1536-1552): guess that the
        # origin is outside, check whether vertex(1) containment then agrees
        # with the wedge test angleContainsVertex(v0, v1, v2); if not, the
        # origin must be inside.
        v = self.vertices
        v1_inside = predicates.angle_contains_vertex(v[0], v[1], v[2])
        guess = predicates.loop_contains_point_scalar(v, self.ORIGIN, False, v[1])
        self.origin_inside = bool(v1_inside != guess)

    @staticmethod
    def full() -> "Loop":
        """The FULL loop (S2Loop.full(), S2Loop.java:103): one sentinel
        vertex at Z_NEG, contains everything."""
        return Loop(Loop.FULL_VERTEX[None, :])

    def is_full(self) -> bool:
        return len(self.vertices) == 1 and bool(
            np.array_equal(self.vertices[0], Loop.FULL_VERTEX)
        )

    @staticmethod
    def from_latlng_degrees(latlngs: list[tuple[float, float]]) -> "Loop":
        lat = np.radians([p[0] for p in latlngs])
        lng = np.radians([p[1] for p in latlngs])
        x, y, z = ci.latlng_to_xyz(lat, lng)
        return Loop(np.stack([x, y, z], axis=1))

    def contains_points(self, x, y, z) -> np.ndarray:
        """Crossing parity from ORIGIN to each point (S2Loop.java:1303-1347):
        inside = originInside XOR (#edge crossings of geodesic origin->p odd).
        """
        from . import predicates

        pts = np.stack(
            [np.atleast_1d(x), np.atleast_1d(y), np.atleast_1d(z)], axis=1
        ).astype(np.float64)
        if self.is_full():
            return np.ones(len(pts), dtype=bool)
        crossings = predicates.count_crossings(self.ORIGIN, pts, self.vertices)
        return np.where((crossings & 1) == 1, not self.origin_inside, self.origin_inside)

    def get_cap_bound(self) -> "Cap":
        """Bounding cap via the rect bound (S2Loop.getCapBound)."""
        return self.get_rect_bound().get_cap_bound()

    def get_turning_angle(self) -> float:
        """Geodesic curvature = sum of vertex turn angles
        (S2Loop.getTurningAngle); -2*pi for the full loop."""
        from . import sphere

        if self.is_full():
            return -2.0 * np.pi
        return sphere.loop_curvature(self.vertices)

    def is_normalized(self) -> bool:
        """True iff the loop encloses at most half the sphere
        (S2Loop.isNormalized S2Loop.java:563: curvature >= -max_error)."""
        n = len(self.vertices)
        max_err = 1e-14 * max(1, n)
        return self.get_turning_angle() >= -max_err

    def normalized(self) -> "Loop":
        """This loop or its inverse, whichever encloses at most half the
        sphere (S2Loop.normalize)."""
        if self.is_normalized():
            return self
        return Loop(self.vertices[::-1].copy())

    def get_rect_bound(self) -> "LatLngRect":
        """Conservative bounding rect (S2Loop.getRectBound /
        initOriginAndBound): the RectBounder bound over the closed vertex
        chain, widened to a polar cap side when the loop contains a
        pole."""
        if self.is_full():
            return LatLngRect.full()
        b = rect_bound_of_chain(self.vertices, closed=True)
        z = np.array([0.0])
        north = bool(self.contains_points(z, z, np.array([1.0]))[0])
        south = bool(self.contains_points(z, z, np.array([-1.0]))[0])
        if north:
            b = LatLngRect.from_intervals(
                iv.R1Interval(b.lat_lo, np.pi / 2), iv.S1Interval.full()
            )
        if south:
            b = LatLngRect.from_intervals(
                iv.R1Interval(-np.pi / 2, b.lat_hi), iv.S1Interval.full()
            )
        return b


def _winding_number(p: np.ndarray, vertices: np.ndarray) -> int:
    """Signed spherical winding parity of point p w.r.t. the loop, via the
    signed angle sum around p (robust for points off the boundary)."""
    v = vertices - 0.0
    a = v
    b = np.roll(v, -1, axis=0)
    # project edges onto the tangent plane at p and accumulate turning angle
    pa = a - np.outer(a @ p, p)
    pb = b - np.outer(b @ p, p)
    na = np.sqrt((pa * pa).sum(axis=1))
    nb = np.sqrt((pb * pb).sum(axis=1))
    pa = pa / na[:, None]
    pb = pb / nb[:, None]
    cross = np.cross(pa, pb) @ p
    dot = (pa * pb).sum(axis=1)
    ang = np.arctan2(cross, dot)
    total = ang.sum()
    return int(np.round(total / (2 * np.pi)))


@dataclass
class Polygon:
    """Set of loops; interior = XOR of loop interiors
    (S2Polygon.java:3057-3064)."""

    loops: list[Loop]

    @staticmethod
    def from_text(text: str) -> "Polygon":
        """S2TextFormat polygon grammar: ';'-separated loops of
        comma-separated 'lat:lng' vertices (S2TextFormat.java:484-495).
        Loops are NORMALIZED like the reference's makePolygon /
        S2Loop.normalize: a loop written clockwise (enclosing more than a
        hemisphere on its left) is reversed to its CCW-small form, so
        fixture strings mean the same region they do in S2PolygonTest."""
        from . import sphere

        loops = []
        for loop_text in text.strip().split(";"):
            loop_text = loop_text.strip()
            if not loop_text:
                continue
            pts = []
            for tok in loop_text.split(","):
                la, ln = tok.strip().split(":")
                pts.append((float(la), float(ln)))
            lp = Loop.from_latlng_degrees(pts)
            if sphere.signed_loop_area(lp.vertices) > 2.0 * np.pi:
                lp = Loop(lp.vertices[::-1].copy())
            loops.append(lp)
        return Polygon(loops)

    # Region relations via the boolean kernel (S2Polygon.contains /
    # intersects semantics, regularized: measure-zero touches don't count).
    # A regularized boolean result with boundary loops is non-empty; a
    # loopless result is constant over the sphere, so one probe of the
    # pointwise combination decides it exactly.

    def _xor_member(self, p: np.ndarray) -> bool:
        r = False
        for lp in self.loops:
            r ^= bool(lp.contains_points(p[0:1], p[1:2], p[2:3])[0])
        return r

    @staticmethod
    def _nonempty(res: "Polygon", a: "Polygon", b: "Polygon", op: str) -> bool:
        if res.loops:
            return True
        p = Loop.ORIGIN  # off every gate/test boundary by construction
        ia, ib = a._xor_member(p), b._xor_member(p)
        return {
            "intersection": ia and ib,
            "union": ia or ib,
            "difference": ia and not ib,
        }[op]

    def get_rect_bound(self) -> "LatLngRect":
        """Conservative bounding rect: union of the loops' RectBounder
        bounds (a superset of the region for any XOR-loop nesting)."""
        b = LatLngRect.empty()
        for lp in self.loops:
            b = b.union(lp.get_rect_bound())
        return b

    def get_area(self) -> float:
        """Region area under the XOR-loop convention (S2Polygon.getArea
        S2Polygon.java:1015): each loop contributes its own
        region-on-the-left area with alternating sign by nesting depth
        (even-odd), so holes subtract and complements work."""
        from . import sphere

        total = 0.0
        for i, lp in enumerate(self.loops):
            if lp.is_full():
                a = 4.0 * np.pi
            else:
                a = float(sphere.signed_loop_area(lp.vertices))
            depth = 0
            v = lp.vertices[0]
            for j, other in enumerate(self.loops):
                if j == i or other.is_full():
                    continue
                if bool(other.contains_points(v[0:1], v[1:2], v[2:3])[0]):
                    depth += 1
            total += a if depth % 2 == 0 else -a
        return max(0.0, min(4.0 * np.pi, total))

    @staticmethod
    def overlap_fraction(a: "Polygon", b: "Polygon") -> float:
        """area(a intersect b) / area(a), clamped to [0, 1]; 0/0 = 1
        (S2Polygon.getOverlapFraction S2Polygon.java:1123)."""
        from . import booleanop as bo

        inter = bo.boolean_op(a, b, "intersection")
        ia = inter.get_area()
        aa = a.get_area()
        if aa > 0:
            return 1.0 if ia >= aa else ia / aa
        return 1.0 if ia == 0 else 0.0

    def contains_polygon(self, other: "Polygon") -> bool:
        """True iff this region contains `other` up to measure-zero
        boundary touches (S2Polygon.contains(S2Polygon))."""
        from . import booleanop as bo

        if not other.loops:
            return True
        if not self.loops:
            return False
        res = bo.boolean_op(other, self, "difference")
        return not Polygon._nonempty(res, other, self, "difference")

    def intersects_polygon(self, other: "Polygon") -> bool:
        """True iff the interiors intersect (S2Polygon.intersects)."""
        from . import booleanop as bo

        if not self.loops or not other.loops:
            return False
        res = bo.boolean_op(self, other, "intersection")
        return Polygon._nonempty(res, self, other, "intersection")

    def to_text(self) -> str:
        """Inverse of from_text: ';'-separated loops of 'lat:lng' vertices
        (S2TextFormat.toString, repr-precision round-trippable)."""
        parts = []
        for lp in self.loops:
            v = lp.vertices
            lat, lng = ci.xyz_to_latlng(v[:, 0], v[:, 1], v[:, 2])
            parts.append(
                ", ".join(
                    f"{float(np.degrees(la))!r}:{float(np.degrees(ln))!r}"
                    for la, ln in zip(np.atleast_1d(lat), np.atleast_1d(lng))
                )
            )
        return "; ".join(parts)

    def contains_points(self, x, y, z, model: str = "semi_open") -> np.ndarray:
        """Membership under a boundary model (S2BooleanOperation.java:268-273
        polygon models):

        * ``semi_open`` (default) — the raw crossing-parity verdict: each
          boundary point deterministically belongs to exactly one of the
          polygon and its complement (the reference's default model);
        * ``open`` — boundary points excluded;
        * ``closed`` — boundary points included.
        """
        inside = np.zeros(np.shape(np.atleast_1d(x)), dtype=bool)
        for loop in self.loops:
            inside ^= loop.contains_points(x, y, z)
        if model == "semi_open":
            return inside
        if model not in ("open", "closed"):
            raise ValueError(f"unknown boundary model {model!r}")
        boundary = self.on_boundary(x, y, z)
        return (inside & ~boundary) if model == "open" else (inside | boundary)

    def on_boundary(self, x, y, z, tol_chord2: float = 1e-24) -> np.ndarray:
        """True where the point lies on a boundary edge or vertex, within
        a squared-chord tolerance (default 1e-24, ~5e-13 rad). The
        tolerance exists because double-precision lat/lng->xyz conversion
        leaves points constructed ON an edge ~1e-17 rad off its exact
        great circle; the reference's vertex models use exact predicates,
        which validation._point_on_closed_edge provides for inputs that
        are bit-exactly incident. Fully vectorized (one chain-distance
        pass per loop)."""
        from . import edges as ek

        pts = np.stack(
            [np.atleast_1d(x), np.atleast_1d(y), np.atleast_1d(z)], axis=1
        ).astype(np.float64)
        out = np.zeros(len(pts), dtype=bool)
        for loop in self.loops:
            va = loop.vertices
            vb = np.roll(va, -1, axis=0)
            out |= ek.min_chord2_points_to_chain(pts, va, vb) <= tol_chord2
        return out


# ---------------------------------------------------------------------------
# 3-valued cell tests (the S2Region contract, S2Region.java:37-76) used by
# the coverer. contains(cell) may false-negative (covering just refines
# further); may_intersect(cell) must NEVER false-negative (covering validity).
#
# The coverer asks them batched: ``region_cell_tests`` returns one function
# ``tests(ids) -> (may_intersect, contains)`` over a list of cell ids, so a
# polygon scores an expanded candidate's 4 children in one numpy pass.
# contains[k] implies may_intersect[k] for every region type here.
# ---------------------------------------------------------------------------

def _cap_intersects_cell(cap: Cap, cell, vertices: np.ndarray) -> bool:
    """S2Cap.intersects(cell, vertices) (S2Cap.java:545-594): true iff the
    cap intersects the cell given no cell vertex is inside the cap."""
    from .cell import cells_contain_points

    if cap.radius2 >= 2.0:  # hemisphere or larger (chord2 of 90deg = 2)
        return False
    if cap.radius2 < 0:
        return False
    axis = np.array(cap.center)
    if cells_contain_points(np.array([cell.face]), np.array([cell.uv_bounds]), axis[None, :])[0]:
        return True
    sin2_angle = cap.radius2 * (1 - 0.25 * cap.radius2)  # S1ChordAngle.sin2
    for k in range(4):
        edge = cell.edge_normals_raw[k]
        dot = float(axis @ edge)
        if dot > 0:
            continue
        if dot * dot > sin2_angle * float(edge @ edge):
            return False
        # the great circle of the edge is within the cap's angle; check the
        # closest point on the edge segment lies within the edge's wedge
        dir_ = np.cross(edge, axis)
        if dir_ @ cell.vertices[k] < 0 and dir_ @ cell.vertices[(k + 1) & 3] > 0:
            return True
    return False


def cap_contains_cell(cap: Cap, cell) -> bool:
    v = cell.vertices
    if not bool(np.all(cap.contains_points(v[:, 0], v[:, 1], v[:, 2]))):
        return False
    complement = Cap(
        (-cap.center[0], -cap.center[1], -cap.center[2]), 4.0 - cap.radius2
    )
    return not _cap_intersects_cell(complement, cell, v)


def cap_may_intersect_cell(cap: Cap, cell) -> bool:
    v = cell.vertices
    if bool(np.any(cap.contains_points(v[:, 0], v[:, 1], v[:, 2]))):
        return True
    return _cap_intersects_cell(cap, cell, v)


def _cell_rect_bound(cell):
    """Conservative lat/lng bound of a cell: vertex extremes padded by the
    max edge bulge (exact bounds are phase-2; padding keeps may_intersect
    sound)."""
    v = cell.vertices
    lat, lng = ci.xyz_to_latlng(v[:, 0], v[:, 1], v[:, 2])
    pad = 0.36 * (2.0 ** -cell.level) + 1e-15  # > half MAX_ANGLE_SPAN bulge
    lat_lo, lat_hi = float(lat.min() - pad), float(lat.max() + pad)
    # detect dateline wrap via vertex spread
    lng_sorted = np.sort(lng)
    if cell.level == 0 or (lng_sorted[-1] - lng_sorted[0]) > np.pi:
        return lat_lo, lat_hi, -np.pi, np.pi
    # poles: if the cell contains a pole its lng span is full
    if lat_hi >= np.pi / 2 - 1e-9 or lat_lo <= -np.pi / 2 + 1e-9:
        return lat_lo, lat_hi, -np.pi, np.pi
    return lat_lo, lat_hi, float(lng.min() - pad), float(lng.max() + pad)


def rect_contains_cell(rect: LatLngRect, cell) -> bool:
    lat_lo, lat_hi, lng_lo, lng_hi = _cell_rect_bound(cell)
    if not (lat_lo >= rect.lat_lo and lat_hi <= rect.lat_hi):
        return False
    if rect.is_inverted():
        return lng_lo >= rect.lng_lo or lng_hi <= rect.lng_hi
    return lng_lo >= rect.lng_lo and lng_hi <= rect.lng_hi


def rect_may_intersect_cell(rect: LatLngRect, cell) -> bool:
    lat_lo, lat_hi, lng_lo, lng_hi = _cell_rect_bound(cell)
    if lat_hi < rect.lat_lo or lat_lo > rect.lat_hi:
        return False
    if rect.is_inverted():
        return lng_hi >= rect.lng_lo or lng_lo <= rect.lng_hi
    return lng_hi >= rect.lng_lo and lng_lo <= rect.lng_hi


def _per_cell(contains_cell, may_intersect_cell):
    """The batched ``tests(ids)`` signature over scalar per-cell tests;
    contains is asked only of cells that may intersect."""
    from .cell import Cell

    def tests(ids):
        cells = [Cell(int(c)) for c in ids]
        may = np.array([bool(may_intersect_cell(c)) for c in cells], dtype=bool)
        contains = np.array(
            [bool(m) and bool(contains_cell(c)) for m, c in zip(may, cells)], dtype=bool
        )
        return may, contains

    return tests


def loop_edges_touch_cells(a: np.ndarray, verts: np.ndarray) -> np.ndarray:
    """Per cell, whether any loop edge crosses OR touches any of its 4 edges
    (four-triangle arc test): loop edges x all cell edges in one four-sign
    pass. ``a`` is the (m,3) loop, ``verts`` the (n,4,3) cell vertices.

    Zero signs -- shared/duplicated vertices, exactly-degenerate
    configurations -- count as touching (robustCrossing >= 0 semantics,
    mirroring the polyline path), so may_intersect never false-negatives on
    loops that graze a cell at a vertex or edge; for contains this is
    conservative (touching boundary => not strictly contained)."""
    from . import predicates

    n = len(verts)
    a = a[:, None, :]
    b = np.roll(a, -1, axis=0)
    c = verts.reshape(1, -1, 3)
    d = np.roll(verts, -1, axis=1).reshape(1, -1, 3)
    acb = predicates.sign_batch(a, c, b)
    bda = predicates.sign_batch(b, d, a)
    cbd = predicates.sign_batch(c, b, d)
    dac = predicates.sign_batch(d, a, c)
    crossing = (acb == bda) & (acb == cbd) & (acb == dac) & (acb != 0)
    touching = (acb == 0) | (bda == 0) | (cbd == 0) | (dac == 0)
    return (crossing | touching).reshape(-1, n, 4).any(axis=(0, 2))


def _polygon_cell_tests(poly: Polygon):
    """Batched polygon cell tests. may_intersect: a cell vertex is inside
    the polygon, or a loop vertex is inside the cell, or a loop edge
    crosses or touches a cell edge. contains (conservative): all 4 cell
    vertices are inside and no loop edge crosses or touches the cell. The
    vertex and edge results are computed once and serve both."""
    from .cell import cells_contain_points, cells_geometry

    def tests(ids):
        n = len(ids)
        if n == 0:
            return np.zeros(0, dtype=bool), np.zeros(0, dtype=bool)
        face, uvb, verts = cells_geometry(np.array(ids, dtype=np.uint64))
        cv = verts.reshape(-1, 3)
        corners_in = poly.contains_points(cv[:, 0], cv[:, 1], cv[:, 2]).reshape(n, 4)
        touched = np.zeros(n, dtype=bool)
        holds_vertex = np.zeros(n, dtype=bool)
        for lp in poly.loops:
            v = lp.vertices
            m = len(v)
            holds_vertex |= cells_contain_points(
                np.repeat(face, m), np.repeat(uvb, m, axis=0), np.tile(v, (n, 1))
            ).reshape(n, m).any(axis=1)
            touched |= loop_edges_touch_cells(v, verts)
        may = corners_in.any(axis=1) | holds_vertex | touched
        contains = corners_in.all(axis=1) & ~touched
        return may, contains

    return tests


@dataclass
class RegionIntersection:
    """C6 S2RegionIntersection: AND of sub-regions. contains(cell) = all
    contain (exact); may_intersect = all may-intersect (conservative —
    may false-positive, never false-negative, keeping coverings sound)."""

    regions: list

    def contains_points(self, x, y, z) -> np.ndarray:
        out = np.ones(np.shape(np.atleast_1d(x)), dtype=bool)
        for r in self.regions:
            out &= r.contains_points(x, y, z)
        return out


@dataclass
class RegionUnion:
    """C6 S2RegionUnion: OR of sub-regions. contains(cell) = any contains
    (conservative false-negative is fine: the coverer just refines);
    may_intersect = any may-intersect (exact-ish)."""

    regions: list

    def contains_points(self, x, y, z) -> np.ndarray:
        out = np.zeros(np.shape(np.atleast_1d(x)), dtype=bool)
        for r in self.regions:
            out |= r.contains_points(x, y, z)
        return out


class ShapeIndexRegion:
    """C7 S2ShapeIndexRegion: region view whose cell tests come from the
    shape INDEX instead of scanning every edge. The build threads the
    interior tracker (S2ShapeIndex.java:643-742 focus walk, here carried
    top-down through the convex cell recursion), so the index stores
    edgeless INTERIOR cells covering the whole interior; both cell tests
    are then pure sorted-range lookups — O(log cells), no edge scan, no
    parity call:

    * may_intersect(cell): its leaf range overlaps a boundary (edge) cell
      or an interior cell;
    * contains(cell): no boundary overlap, and the interior cells tile the
      cell's entire leaf range.
    """

    def __init__(self, polygon: "Polygon", max_edges_per_cell: int = 10,
                 max_level: int = 16):
        from . import shapeindex as si

        self.polygon = polygon

        def contains_point(p):
            return bool(polygon.contains_points(p[0:1], p[1:2], p[2:3])[0])

        rows = si.build_shape_index_interior(
            [lp.vertices for lp in polygon.loops],
            contains_point,
            max_edges_per_cell=max_edges_per_cell,
            max_level=max_level,
        )
        bias = np.uint64(1) << np.uint64(63)

        def ranges(ids):
            ids = np.array(ids, dtype=np.uint64)
            lo = np.sort((ci.range_min(ids) ^ bias).view(np.int64))
            hi = np.sort((ci.range_max(ids) ^ bias).view(np.int64))
            return lo, hi

        self._lo, self._hi = ranges([r[0] for r in rows if len(r[1])])
        self._ilo, self._ihi = ranges(
            [r[0] for r in rows if not len(r[1]) and r[2]]
        )

    @staticmethod
    def _query_range(cell) -> tuple[int, int]:
        bias = np.uint64(1) << np.uint64(63)
        u = np.uint64(cell.id)
        lo = int((np.atleast_1d(ci.range_min(u)) ^ bias).view(np.int64)[0])
        hi = int((np.atleast_1d(ci.range_max(u)) ^ bias).view(np.int64)[0])
        return lo, hi

    @staticmethod
    def _overlaps(lo, hi, los, his) -> bool:
        # ranges are disjoint and sorted, so lo and hi arrays sort together:
        # the first range with hi_k >= lo must start at lo_k <= hi.
        k = int(np.searchsorted(his, lo))
        return k < len(los) and los[k] <= hi

    def _boundary_overlaps(self, cell) -> bool:
        lo, hi = self._query_range(cell)
        return self._overlaps(lo, hi, self._lo, self._hi)

    def _interior_covers(self, lo, hi) -> bool:
        """True iff the interior ranges tile [lo, hi] without gaps.

        Leaf cell ids are odd, so the ranges of two adjacent cells are
        spaced 2 apart (range_max(c) + 2 == range_min(next(c))); advancing
        the cursor by 2 treats them as contiguous.
        """
        k = int(np.searchsorted(self._ihi, lo))
        cursor = lo
        while k < len(self._ilo) and self._ilo[k] <= cursor:
            cursor = self._ihi[k]
            if cursor >= hi:
                return True
            cursor += 2
            k += 1
        return False

    def contains_points(self, x, y, z) -> np.ndarray:
        return self.polygon.contains_points(x, y, z)

    def contains_cell(self, cell) -> bool:
        lo, hi = self._query_range(cell)
        if self._overlaps(lo, hi, self._lo, self._hi):
            return False
        return self._interior_covers(lo, hi)

    def may_intersect_cell(self, cell) -> bool:
        lo, hi = self._query_range(cell)
        return self._overlaps(lo, hi, self._lo, self._hi) or self._overlaps(
            lo, hi, self._ilo, self._ihi
        )


@dataclass
class BufferedRegion:
    """C8 S2ShapeIndexBufferedRegion: all points within ``radius_rad`` of
    a base polygon (interior included). Cell tests use the center-distance
    +/- circumradius triangle inequality — sound for coverings (contains
    may false-negative, may_intersect may false-positive, never the
    reverse)."""

    base: "Polygon"
    radius_rad: float

    def _center_dist(self, cell) -> tuple[float, float]:
        """(angle from cell center to region, cell circumradius angle)."""
        from . import edges as ek
        from . import sphere

        c = cell.vertices.mean(axis=0)
        c = c / np.sqrt(c @ c)
        if bool(self.base.contains_points(c[0:1], c[1:2], c[2:3])[0]):
            d = 0.0
        else:
            best = 4.0
            for lp in self.base.loops:
                va = lp.vertices
                vb = np.roll(va, -1, axis=0)
                best = min(best, float(ek.min_chord2_points_to_chain(c[None], va, vb)[0]))
            d = float(sphere.angle_from_chord2(best))
        v = cell.vertices
        circ2 = float(
            sphere.chord2_between(v[:, 0], v[:, 1], v[:, 2], c[0], c[1], c[2]).max()
        )
        return d, float(sphere.angle_from_chord2(circ2))

    def contains_points(self, x, y, z) -> np.ndarray:
        from . import edges as ek
        from . import sphere

        pts = np.stack([np.atleast_1d(x), np.atleast_1d(y), np.atleast_1d(z)], axis=1)
        inside = self.base.contains_points(pts[:, 0], pts[:, 1], pts[:, 2])
        best = np.full(len(pts), 4.0)
        for lp in self.base.loops:
            va = lp.vertices
            vb = np.roll(va, -1, axis=0)
            best = np.minimum(best, ek.min_chord2_points_to_chain(pts, va, vb))
        thresh = float(sphere.chord2_from_angle(self.radius_rad))
        return inside | (best <= thresh)

    def contains_cell(self, cell) -> bool:
        d, circ = self._center_dist(cell)
        return d + circ <= self.radius_rad

    def may_intersect_cell(self, cell) -> bool:
        d, circ = self._center_dist(cell)
        return d - circ <= self.radius_rad


def region_cell_tests(region):
    """(tests, cap_bound) dispatch for a region: ``tests(ids)`` returns the
    (may_intersect, contains) bool arrays of a list of cell ids."""
    from . import sphere

    if isinstance(region, (ShapeIndexRegion, BufferedRegion)):
        base = region.polygon if isinstance(region, ShapeIndexRegion) else region.base
        _, base_cap = region_cell_tests(base)
        if isinstance(region, BufferedRegion):
            ang = base_cap.bound_angle() + region.radius_rad
            cap = Cap(
                base_cap.center,
                min(4.0, float(sphere.chord2_from_angle(ang)) * (1 + 1e-12)),
            )
        else:
            cap = base_cap
        return _per_cell(region.contains_cell, region.may_intersect_cell), cap
    if isinstance(region, RegionIntersection):
        subs = [region_cell_tests(r) for r in region.regions]
        # tightest sub-cap bounds the intersection
        cap = min((s[1] for s in subs), key=lambda c: c.radius2)

        def all_tests(ids):
            verdicts = [s[0](ids) for s in subs]
            return (np.logical_and.reduce([v[0] for v in verdicts]),
                    np.logical_and.reduce([v[1] for v in verdicts]))

        return all_tests, cap
    if isinstance(region, RegionUnion):
        subs = [region_cell_tests(r) for r in region.regions]
        # bounding cap: grow the first sub-cap to cover every other one
        caps = [s[1] for s in subs]
        axis = np.zeros(3)
        for c in caps:
            axis += np.array(c.center)
        n = float(np.sqrt(axis @ axis))
        if n < 1e-12:
            cap = Cap((1.0, 0.0, 0.0), 4.0)
        else:
            axis /= n
            ang = 0.0
            for c in caps:
                d = sphere.angle_between(
                    axis[0], axis[1], axis[2], c.center[0], c.center[1], c.center[2]
                )
                ang = max(ang, float(d) + c.bound_angle())
            cap = Cap(tuple(axis), min(4.0, float(sphere.chord2_from_angle(ang)) * (1 + 1e-12)))

        def any_tests(ids):
            verdicts = [s[0](ids) for s in subs]
            return (np.logical_or.reduce([v[0] for v in verdicts]),
                    np.logical_or.reduce([v[1] for v in verdicts]))

        return any_tests, cap
    if isinstance(region, Cap):
        return _per_cell(
            lambda cell: cap_contains_cell(region, cell),
            lambda cell: cap_may_intersect_cell(region, cell),
        ), region
    if isinstance(region, LatLngRect):
        # cap bound: centered at rect center, radius to the farthest corner
        clat = 0.5 * (region.lat_lo + region.lat_hi)
        if region.is_inverted():
            clng = 0.5 * (region.lng_lo + region.lng_hi) + np.pi
            width = 2 * np.pi - (region.lng_lo - region.lng_hi)
        else:
            clng = 0.5 * (region.lng_lo + region.lng_hi)
            width = region.lng_hi - region.lng_lo
        corners_lat = np.array([region.lat_lo, region.lat_hi] * 2)
        corners_lng = np.array(
            [clng - width / 2, clng - width / 2, clng + width / 2, clng + width / 2]
        )
        cx, cy, cz = ci.latlng_to_xyz(np.array([clat]), np.array([clng]))
        vx, vy, vz = ci.latlng_to_xyz(corners_lat, corners_lng)
        r2 = float(sphere.chord2_between(vx, vy, vz, cx, cy, cz).max()) * (1 + 1e-12)
        cap = Cap((float(cx[0]), float(cy[0]), float(cz[0])), min(4.0, r2))
        return _per_cell(
            lambda cell: rect_contains_cell(region, cell),
            lambda cell: rect_may_intersect_cell(region, cell),
        ), cap
    if isinstance(region, Polyline):
        return _per_cell(
            lambda cell: False,
            lambda cell: polyline_may_intersect_cell(region, cell),
        ), _polyline_cap(region)
    if isinstance(region, Loop):
        region = Polygon([region])
    if isinstance(region, Polygon):
        allv = np.concatenate([lp.vertices for lp in region.loops], axis=0)
        centroid = allv.mean(axis=0)
        n = float(np.sqrt(centroid @ centroid))
        if n < 1e-12:
            cap = Cap((1.0, 0.0, 0.0), 4.0)
        else:
            centroid = centroid / n
            d = sphere.chord2_between(
                allv[:, 0], allv[:, 1], allv[:, 2], centroid[0], centroid[1], centroid[2]
            )
            cap = Cap(tuple(centroid), min(4.0, float(d.max()) * (1 + 1e-12)))
            # if the polygon contains the anti-centroid the cap must be full
            anti = -centroid
            if bool(region.contains_points(anti[0:1], anti[1:2], anti[2:3])[0]):
                cap = Cap((1.0, 0.0, 0.0), 4.0)
        return _polygon_cell_tests(region), cap
    raise TypeError(f"unsupported region {type(region)}")


@dataclass
class Polyline:
    """Open vertex chain (S2Polyline.java). No interior:
    contains(cell) == False always; mayIntersect(cell) == any vertex in the
    cell or any chain edge crossing-or-touching any cell edge
    (S2Polyline.java:347-374: robustCrossing >= 0 counts)."""

    vertices: np.ndarray

    def __post_init__(self):
        self.vertices = np.asarray(self.vertices, dtype=np.float64)

    @staticmethod
    def from_latlng_degrees(latlngs: list[tuple[float, float]]) -> "Polyline":
        lat = np.radians([p[0] for p in latlngs])
        lng = np.radians([p[1] for p in latlngs])
        x, y, z = ci.latlng_to_xyz(lat, lng)
        return Polyline(np.stack([x, y, z], axis=1))

    def contains_points(self, x, y, z) -> np.ndarray:
        return np.zeros(np.shape(np.atleast_1d(x)), dtype=bool)

    def get_rect_bound(self) -> "LatLngRect":
        """Exact conservative bound over the OPEN chain
        (S2Polyline.getRectBound via RectBounder)."""
        return rect_bound_of_chain(self.vertices, closed=False)

    def reversed(self) -> "Polyline":
        """S2Polyline.reversed (S2Polyline.java:998)."""
        return Polyline(self.vertices[::-1].copy())

    def intersects(self, other: "Polyline") -> bool:
        """True iff any edge pair crosses or touches (robustCrossing >= 0
        counts — shared vertices intersect; S2Polyline.intersects
        S2Polyline.java:639-658)."""
        va, vb = self.vertices, other.vertices
        if len(va) <= 1 or len(vb) <= 1:
            return False
        for i in range(len(va) - 1):
            for j in range(len(vb) - 1):
                if _robust_crossing_sign(va[i], va[i + 1], vb[j], vb[j + 1]) >= 0:
                    return True
        return False

    def get_length(self) -> float:
        """Total geodesic arclength (S2Polyline.getArclengthAngle)."""
        from . import sphere

        return sphere.polyline_length(self.vertices)

    def interpolate(self, t: float) -> np.ndarray:
        """Point at fraction t in [0,1] of the total arclength
        (S2Polyline.interpolate S2Polyline.java:251), clamped at the
        ends."""
        from . import edges as ek
        from . import sphere

        v = self.vertices
        if len(v) == 1 or t <= 0:
            return v[0].copy()
        target = min(max(t, 0.0), 1.0) * self.get_length()
        walked = 0.0
        for i in range(len(v) - 1):
            d = v[i + 1] - v[i]
            elen = 2.0 * float(np.arcsin(0.5 * np.sqrt(d @ d)))
            if walked + elen >= target or i == len(v) - 2:
                rem = max(0.0, target - walked)
                return np.ravel(
                    ek.interpolate_at_distance(min(rem, elen), v[i], v[i + 1])
                )
            walked += elen
        return v[-1].copy()

    def uninterpolate(self, p: np.ndarray) -> float:
        """Inverse of interpolate: arclength fraction of the point's
        projection onto the chain (S2Polyline.uninterpolate
        S2Polyline.java:294), in [0, 1]."""
        from . import sphere

        q, next_vertex = self.project(np.asarray(p, dtype=np.float64))
        v = self.vertices
        total = self.get_length()
        if total <= 0:
            return 0.0
        walked = sphere.polyline_length(v[:next_vertex])
        d = q - v[next_vertex - 1]
        walked += 2.0 * float(np.arcsin(0.5 * np.sqrt(d @ d)))
        return min(1.0, walked / total)

    def get_centroid(self) -> np.ndarray:
        """True (integrated) centroid, NOT normalized — the sum of the
        per-edge true centroids (S2.trueCentroid(a,b) S2.java:481-493:
        direction of the edge midpoint scaled to length 2*sin(theta)), so
        centroids of concatenated chains add."""
        v = self.vertices
        total = np.zeros(3)
        for i in range(len(v) - 1):
            a, b = v[i], v[i + 1]
            diff = a - b
            s = a + b
            sin2 = float(diff @ diff)
            cos2 = float(s @ s)
            if cos2 == 0:
                continue  # antipodal edge
            total = total + s * np.sqrt(sin2 / cos2)
        return total

    def project(self, p: np.ndarray) -> tuple[np.ndarray, int]:
        """(closest point on the chain, index of the edge's END vertex) —
        S2Polyline.project (S2Polyline.java:603) via the A21 chain
        kernel."""
        from . import edges as ek

        q, edge_idx, _t = ek.project_to_chain(
            np.asarray(p, dtype=np.float64)[None, :],
            self.vertices[:-1],
            self.vertices[1:],
        )
        return q[0], int(np.atleast_1d(edge_idx)[0]) + 1


def rect_bound_of_chain(vertices: np.ndarray, closed: bool = True) -> LatLngRect:
    """Exact conservative lat/lng bound of an edge chain — the
    S2EdgeUtil.RectBounder port (S2EdgeUtil.java:517-713): per edge, the
    latitude interval includes the great circle's interior extremum
    (where the edge crosses the plane through its normal and Z) with the
    reference's error budget (3.84e roughly on N's direction, the
    lat-budget bound for short edges, 3e padding), near-degenerate edges
    fall back to point-pair bounds (nearly-antipodal => full), and the
    final bound expands latitudes by 2*eps and applies the polar
    closure."""
    eps = float(np.finfo(np.float64).eps)
    v = np.asarray(vertices, dtype=np.float64)
    if len(v) == 0:
        return LatLngRect.empty()
    chain = np.concatenate([v, v[:1]], axis=0) if closed and len(v) > 1 else v
    a = chain[0]
    a_lat, a_lng = (float(t) for t in ci.xyz_to_latlng(a[0], a[1], a[2]))
    bound = LatLngRect.empty().add_point(a_lat, a_lng)
    for b in chain[1:]:
        b_lat, b_lng = (float(t) for t in ci.xyz_to_latlng(b[0], b[1], b[2]))
        n = np.cross(a - b, a + b)  # 2 * (A x B), zero when proportional
        n_norm = float(np.sqrt(n @ n))
        if n_norm < 1.91346e-15:
            if float(a @ b) < 0:
                # nearly antipodal: the edge may go anywhere
                bound = LatLngRect.full()
            else:
                bound = bound.union(
                    LatLngRect.from_point_pair(a_lat, a_lng, b_lat, b_lng)
                )
        else:
            lng_ab = iv.S1Interval.from_point_pair(a_lng, b_lng)
            if lng_ab.length() >= np.pi - 2 * eps:
                lng_ab = iv.S1Interval.full()
            lat_ab = iv.R1Interval.from_point_pair(a_lat, b_lat)
            m = np.cross(n, [0.0, 0.0, 1.0])
            m_dot_a = float(m @ a)
            m_dot_b = float(m @ b)
            m_error = 6.06638e-16 * n_norm + 6.83174e-31
            if (
                m_dot_a * m_dot_b < 0
                or abs(m_dot_a) <= m_error
                or abs(m_dot_b) <= m_error
            ):
                max_lat = min(
                    np.pi / 2,
                    3 * eps
                    + float(np.arctan2(np.hypot(n[0], n[1]), abs(n[2]))),
                )
                d = a - b
                lat_budget = 2.0 * float(
                    np.arcsin(0.5 * np.sqrt(d @ d) * np.sin(max_lat))
                )
                max_delta = 0.5 * (lat_budget - lat_ab.length()) + eps
                lo, hi = lat_ab.lo, lat_ab.hi
                if m_dot_a <= m_error and m_dot_b >= -m_error:
                    hi = min(max_lat, hi + max_delta)
                if m_dot_b <= m_error and m_dot_a >= -m_error:
                    lo = max(-max_lat, lo - max_delta)
                lat_ab = iv.R1Interval(lo, hi)
            bound = bound.union(LatLngRect.from_intervals(lat_ab, lng_ab))
        a, a_lat, a_lng = b, b_lat, b_lng
    bound = bound.expanded(2 * eps, 0.0) if not bound.is_empty() else bound
    return bound.polar_closure()


def _robust_crossing_sign(a, b, c, d) -> int:
    """EdgeCrosser.robustCrossing 3-value semantics: +1 proper crossing,
    0 shared vertex or degenerate (some exact sign is 0 — SoS is phase-2),
    -1 no crossing."""
    from . import predicates

    if (
        np.array_equal(a, c)
        or np.array_equal(a, d)
        or np.array_equal(b, c)
        or np.array_equal(b, d)
    ):
        return 0
    acb = predicates._sign1(a, c, b)
    bda = predicates._sign1(b, d, a)
    cbd = predicates._sign1(c, b, d)
    dac = predicates._sign1(d, a, c)
    if 0 in (acb, bda, cbd, dac):
        return 0
    return 1 if (acb == bda == cbd == dac) else -1


def polyline_may_intersect_cell(line: Polyline, cell) -> bool:
    v = line.vertices
    if len(v) == 0:
        return False
    from .cell import cells_contain_points

    if bool(cells_contain_points(
        np.full(len(v), cell.face), np.tile(cell.uv_bounds, (len(v), 1)), v
    ).any()):
        return True
    cv4 = cell.vertices
    for j in range(4):
        c0 = cv4[j]
        c1 = cv4[(j + 1) & 3]
        for i in range(len(v) - 1):
            if _robust_crossing_sign(c0, c1, v[i], v[i + 1]) >= 0:
                return True
    return False


def _polyline_cap(line: Polyline) -> Cap:
    """SOUND bounding cap: centroid-axis cap grown to the farthest point
    of any EDGE (max-distance kernel, so edge-interior bulges beyond the
    farthest vertex are covered — previously a documented vertex-only
    approximation)."""
    from . import edges as ek

    centroid = line.vertices.mean(axis=0)
    n = float(np.sqrt(centroid @ centroid))
    if n < 1e-12:
        return Cap((1.0, 0.0, 0.0), 4.0)
    axis = centroid / n
    if len(line.vertices) == 1:
        d_max = float(
            sphere.chord2_between(
                line.vertices[0, 0], line.vertices[0, 1], line.vertices[0, 2],
                axis[0], axis[1], axis[2],
            )
        )
    else:
        d_max = float(
            np.max(
                ek.max_chord2_to_edges(
                    axis[None, :], line.vertices[:-1], line.vertices[1:]
                )
            )
        )
    return Cap(tuple(axis), min(4.0, d_max * (1 + 1e-12)))
