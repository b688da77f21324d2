"""Vectorized S2 cell-id codec: the engine's primary key.

A from-scratch numpy reimplementation of the S2 discrete global grid used by
google/s2-geometry-library-java: six cube faces, each a quadtree to level 30,
cells linearized by a Hilbert curve into 64-bit unsigned ids.

Bit format (reference spec: S2CellId.java:50-97): 3 face bits, then the
Hilbert-curve position with a trailing ``1`` marking the level; level =
30 - trailing_zeros/2; leaf iff bit 0 set.

All functions operate on numpy arrays (``np.uint64`` for ids) and broadcast,
so they drop straight into Arrow-batched pandas UDFs. Scalars work too.

Parity targets (behavior, not code): S2CellId.java (fromFaceIJ :1206-1240,
toIJOrientation :1268-1304, lookup build :1573-1597, algebra :454-876,
tokens :909-996), S2Projections.java (stToUV/uvToST :246-264, face
transforms :348-542, stToIj :636-638), S2.java traversal tables :113-175,
S2LatLng.java conversions :123-146,263-275.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# Constants (S2CellId.java:50-97, S2.java:113-120)
# ---------------------------------------------------------------------------

LOOKUP_BITS = 4
SWAP_MASK = 0x01
INVERT_MASK = 0x02

MAX_LEVEL = 30
POS_BITS = 2 * MAX_LEVEL + 1  # 61
FACE_BITS = 3
NUM_FACES = 6
MAX_SIZE = 1 << MAX_LEVEL  # 2**30: i,j range is [0, MAX_SIZE)
MAX_SITI = 1 << (MAX_LEVEL + 1)  # 2**31: si,ti range is [0, MAX_SITI]

#: Signed-int64 bias: XOR with this makes unsigned cell-id order == signed
#: order (Spark/Parquet have no uint64). Apply at EVERY sort/range boundary.
BIAS = np.uint64(0x8000000000000000)

_U64_1 = np.uint64(1)
_U64_0 = np.uint64(0)

# Hilbert traversal tables (S2.java:113-175).
POS_TO_IJ = np.array(
    [[0, 1, 3, 2], [0, 2, 3, 1], [3, 2, 0, 1], [3, 1, 0, 2]], dtype=np.int64
)
IJ_TO_POS = np.array(
    [[0, 1, 3, 2], [0, 3, 1, 2], [2, 3, 1, 0], [2, 1, 3, 0]], dtype=np.int64
)
POS_TO_ORIENTATION = np.array(
    [SWAP_MASK, 0, 0, INVERT_MASK | SWAP_MASK], dtype=np.int64
)


def _build_lookup_tables(width: int = LOOKUP_BITS) -> tuple[np.ndarray, np.ndarray]:
    """``width``-bit-per-step Hilbert lookup tables (S2CellId.java:1573-1597).

    Key layout "i..ij..joo" <-> value "p......poo" where o = orientation bits.
    The per-level Hilbert transition composes, so any chunk width yields the
    same pos/orientation as the reference's 4-bit tables — wider tables just
    take fewer gather passes (width 6 => 5 passes for 30 levels, table 16 K
    entries = 128 KiB, L2-resident).
    """
    n = 1 << (2 * width + 2)
    lookup_pos = np.zeros(n, dtype=np.int64)
    lookup_ij = np.zeros(n, dtype=np.int64)

    def init(level: int, i: int, j: int, orig: int, pos: int, orientation: int):
        if level == width:
            ij = (i << width) + j
            lookup_pos[(ij << 2) + orig] = (pos << 2) + orientation
            lookup_ij[(pos << 2) + orig] = (ij << 2) + orientation
            return
        level += 1
        i <<= 1
        j <<= 1
        pos <<= 2
        for sub_pos in range(4):
            ij = int(POS_TO_IJ[orientation, sub_pos])
            init(
                level,
                i + (ij >> 1),
                j + (ij & 1),
                orig,
                pos + sub_pos,
                orientation ^ int(POS_TO_ORIENTATION[sub_pos]),
            )

    for orientation in range(4):
        init(0, 0, 0, orientation, 0, orientation)
    return lookup_pos, lookup_ij


LOOKUP_POS, LOOKUP_IJ = _build_lookup_tables()

# Wide-stride tables for the hot encode/decode paths: 6 bits per step means
# 30 levels in exactly 5 gather passes (vs 8 with the reference's 4-bit
# tables). Bit-identical output — the Hilbert transition composes across any
# chunking (pinned by test_cellid bit-equality vs the 4-bit loop).
WIDE_BITS = 6
LOOKUP_POS_W, LOOKUP_IJ_W = _build_lookup_tables(WIDE_BITS)


def _as_u64(ids) -> np.ndarray:
    return np.asarray(ids, dtype=np.uint64)


# ---------------------------------------------------------------------------
# Hilbert encode / decode
# ---------------------------------------------------------------------------

def from_face_ij(face, i, j) -> np.ndarray:
    """Leaf cell id from cube face (0-5) and (i,j) in [0, 2^30).

    Same transition semantics as the reference's 8x 4-bit lookup loop
    (S2CellId.java:1206-1240) but run through the 6-bit tables: 5 gather
    passes, each mapping 6 bits of i and 6 of j plus 2 orientation bits
    to 12 Hilbert-position bits plus the next orientation. Bit-equal to
    ``_from_face_ij_4bit`` (pinned by test).
    """
    face = np.asarray(face, dtype=np.int64)
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    shape = np.broadcast(face, i, j).shape
    bits = np.broadcast_to(face & SWAP_MASK, shape).copy()
    pos = np.zeros(shape, dtype=np.uint64)
    mask = (1 << WIDE_BITS) - 1
    for k in range(MAX_LEVEL // WIDE_BITS - 1, -1, -1):
        idx = (
            bits
            + (((i >> (k * WIDE_BITS)) & mask) << (WIDE_BITS + 2))
            + (((j >> (k * WIDE_BITS)) & mask) << 2)
        )
        bits = LOOKUP_POS_W[idx]
        pos |= (bits >> 2).astype(np.uint64) << np.uint64(k * 2 * WIDE_BITS)
        bits &= SWAP_MASK | INVERT_MASK
    return (face.astype(np.uint64) << np.uint64(POS_BITS)) + ((pos << _U64_1) + _U64_1)


def _from_face_ij_4bit(face, i, j) -> np.ndarray:
    """Reference-stride (4-bit, 8-pass) encode loop (S2CellId.java:1206-1240).

    Kept as the pinned reference for the wide-stride fast path; the two are
    asserted bit-equal in tests.
    """
    face = np.asarray(face, dtype=np.int64)
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    shape = np.broadcast(face, i, j).shape
    bits = np.broadcast_to(face & SWAP_MASK, shape).copy()
    pos = np.zeros(shape, dtype=np.uint64)
    for k in range(7, -1, -1):
        idx = (
            bits
            + (((i >> (k * LOOKUP_BITS)) & 15) << (LOOKUP_BITS + 2))
            + (((j >> (k * LOOKUP_BITS)) & 15) << 2)
        )
        bits = LOOKUP_POS[idx]
        pos |= (bits >> 2).astype(np.uint64) << np.uint64(k * 2 * LOOKUP_BITS)
        bits &= SWAP_MASK | INVERT_MASK
    return (face.astype(np.uint64) << np.uint64(POS_BITS)) + ((pos << _U64_1) + _U64_1)


def to_face_ij_orientation(ids):
    """(face, i, j, orientation) of the leaf cell nearest this cell's center.

    Vectorized port of S2CellId.java:1268-1304 via the 6-bit tables (5
    gather passes; bit-equal to the reference's 4-bit stride, pinned by
    ``_to_face_ij_orientation_4bit``), plus the trailing-bits orientation
    correction.
    """
    ids = _as_u64(ids)
    face = (ids >> np.uint64(POS_BITS)).astype(np.int64)
    bits = face & SWAP_MASK
    i = np.zeros(ids.shape, dtype=np.int64)
    j = np.zeros(ids.shape, dtype=np.int64)
    mask = (1 << WIDE_BITS) - 1
    for k in range(MAX_LEVEL // WIDE_BITS - 1, -1, -1):
        chunk = (
            (ids >> np.uint64(k * 2 * WIDE_BITS + 1))
            & np.uint64((1 << (2 * WIDE_BITS)) - 1)
        ).astype(np.int64)
        bits = LOOKUP_IJ_W[bits + (chunk << 2)]
        i += (bits >> (WIDE_BITS + 2)) << (k * WIDE_BITS)
        j += ((bits >> 2) & mask) << (k * WIDE_BITS)
        bits &= SWAP_MASK | INVERT_MASK
    # Non-leaf suffix 10...0: each "00" pair flips SWAP (S2CellId.java:1293-1300)
    lsb = lowest_on_bit(ids)
    flip = (lsb & np.uint64(0x1111111111111110)) != 0
    orientation = np.where(flip, bits ^ SWAP_MASK, bits)
    return face, i, j, orientation


def _to_face_ij_orientation_4bit(ids):
    """Reference-stride (4-bit, 8-pass) decode loop (S2CellId.java:1268-1304)."""
    ids = _as_u64(ids)
    face = (ids >> np.uint64(POS_BITS)).astype(np.int64)
    bits = face & SWAP_MASK
    i = np.zeros(ids.shape, dtype=np.int64)
    j = np.zeros(ids.shape, dtype=np.int64)
    for k in range(7, -1, -1):
        nbits = (MAX_LEVEL - 7 * LOOKUP_BITS) if k == 7 else LOOKUP_BITS
        chunk = (
            (ids >> np.uint64(k * 2 * LOOKUP_BITS + 1))
            & np.uint64((1 << (2 * nbits)) - 1)
        ).astype(np.int64)
        bits = LOOKUP_IJ[bits + (chunk << 2)]
        i += (bits >> (LOOKUP_BITS + 2)) << (k * LOOKUP_BITS)
        j += ((bits >> 2) & ((1 << LOOKUP_BITS) - 1)) << (k * LOOKUP_BITS)
        bits &= SWAP_MASK | INVERT_MASK
    lsb = lowest_on_bit(ids)
    flip = (lsb & np.uint64(0x1111111111111110)) != 0
    orientation = np.where(flip, bits ^ SWAP_MASK, bits)
    return face, i, j, orientation


# ---------------------------------------------------------------------------
# Projection chain: (lat,lng) -> xyz -> face,(u,v) -> (s,t) -> (i,j)
# (S2Projections.java, S2LatLng.java — replicated operation-for-operation so
# rounding matches the reference bit-for-bit.)
# ---------------------------------------------------------------------------

def latlng_to_xyz(lat_rad, lng_rad):
    """Unit sphere point from lat/lng radians (S2LatLng.java:263-275)."""
    lat = np.asarray(lat_rad, dtype=np.float64)
    lng = np.asarray(lng_rad, dtype=np.float64)
    cos_lat = np.cos(lat)
    return cos_lat * np.cos(lng), cos_lat * np.sin(lng), np.sin(lat)


def xyz_to_latlng(x, y, z):
    """Lat/lng radians from xyz (S2LatLng.java:123-146; +0.0 kills -0.0)."""
    lat = np.arctan2(z, np.sqrt(x * x + y * y)) + 0.0
    lng = np.arctan2(y, x) + 0.0
    return lat, lng


def normalize_latlng(lat_rad, lng_rad):
    """A4 S2LatLng.normalized (S2LatLng.java:240-245): clamp lat to
    [-pi/2, pi/2]; IEEE-remainder lng into [-pi, pi] (round-half-even
    quotient — np.round is half-even, matching Platform.IEEEremainder)."""
    lat = np.clip(np.asarray(lat_rad, dtype=np.float64), -np.pi / 2, np.pi / 2)
    lng = np.asarray(lng_rad, dtype=np.float64)
    two_pi = 2.0 * np.pi
    lng = lng - two_pi * np.round(lng / two_pi)
    return lat, lng + 0.0


def xyz_to_face(x, y, z):
    """Cube face 0-5 by largest |component| (S2Projections.java:847-856,
    S2Point.largestAbsComponent S2Point.java:366-371: strict > comparisons,
    ties prefer z then y)."""
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    largest = np.where(ax > ay, np.where(ax > az, 0, 2), np.where(ay > az, 1, 2))
    comp = np.where(largest == 0, x, np.where(largest == 1, y, z))
    return np.where(comp < 0, largest + 3, largest)


# Per-face UV transform as gathers (UV_TRANSFORMS, S2Projections.java:348-415):
# denominator = the face's major axis, numerators = the other two components
# with face-dependent signs. sign*num then one IEEE divide is bit-equal to
# the reference's per-face expressions (negation is exact).
_UV_DEN_IDX = np.array([0, 1, 2, 0, 1, 2], dtype=np.int64)
_U_NUM_IDX = np.array([1, 0, 0, 2, 2, 1], dtype=np.int64)
_U_NUM_SGN = np.array([1.0, -1.0, -1.0, 1.0, 1.0, -1.0])
_V_NUM_IDX = np.array([2, 2, 1, 1, 0, 0], dtype=np.int64)
_V_NUM_SGN = np.array([1.0, 1.0, -1.0, 1.0, -1.0, -1.0])


def face_xyz_to_uv(face, x, y, z):
    """(u,v) on the given face (UV_TRANSFORMS, S2Projections.java:348-415)."""
    face = np.asarray(face, dtype=np.int64)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    z = np.asarray(z, dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        den = np.choose(_UV_DEN_IDX[face], (x, y, z), mode="clip")
        u = (_U_NUM_SGN[face] * np.choose(_U_NUM_IDX[face], (x, y, z), mode="clip")) / den
        v = (_V_NUM_SGN[face] * np.choose(_V_NUM_IDX[face], (x, y, z), mode="clip")) / den
    return u, v


def _face_xyz_to_uv_select(face, x, y, z):
    """Reference-form per-face expressions (pinned bit-equality oracle for
    the gather fast path above)."""
    with np.errstate(divide="ignore", invalid="ignore"):
        u = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [y / x, -x / y, -x / z, z / x, z / y],
            default=-y / z,
        )
        v = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [z / x, z / y, -y / z, y / x, -x / y],
            default=-x / z,
        )
    return u, v


#: per face, which of (1, u, v) each of x, y, z takes, and its sign
#: (XYZ_TRANSFORMS, S2Projections.java:444-542)
_XYZ_SRC = np.array([[0, 1, 2], [1, 0, 2], [1, 2, 0], [0, 2, 1], [2, 0, 1], [2, 1, 0]])
_XYZ_SGN = np.array(
    [[1.0, 1.0, 1.0], [-1.0, 1.0, 1.0], [-1.0, -1.0, 1.0],
     [-1.0, -1.0, -1.0], [1.0, -1.0, -1.0], [1.0, 1.0, -1.0]]
)


def face_uv_to_xyz(face, u, v):
    """Direction vector (not unit length) from face,(u,v)
    (XYZ_TRANSFORMS, S2Projections.java:444-542). A table pick times an
    exact +-1, so every output is the reference's value bit for bit."""
    face = np.asarray(face, dtype=np.int64)
    src = (np.ones_like(u), u, v)
    src_idx, sgn = _XYZ_SRC[face], _XYZ_SGN[face]
    return tuple(
        sgn[..., k] * np.choose(src_idx[..., k], src) for k in range(3)
    )


def st_to_uv(s):
    """Quadratic ST->UV (S2Projections.java:246-252), op-order preserved."""
    s = np.asarray(s, dtype=np.float64)
    hi = (1.0 / 3.0) * (4.0 * s * s - 1.0)
    lo = (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s))
    return np.where(s >= 0.5, hi, lo)


def uv_to_st(u):
    """Inverse quadratic UV->ST (S2Projections.java:258-264)."""
    u = np.asarray(u, dtype=np.float64)
    # np.where evaluates both branches; out-of-branch sqrt args go negative
    with np.errstate(invalid="ignore"):
        pos = 0.5 * np.sqrt(1.0 + 3.0 * u)
        neg = 1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u)
    return np.where(u >= 0, pos, neg)


def st_to_ij(s):
    """Leaf i/j index of an s/t value, clamped (S2Projections.java:636-638).
    Java Math.round is floor(x+0.5) — half-UP, not numpy's half-even."""
    ij = np.floor(MAX_SIZE * np.asarray(s, dtype=np.float64) - 0.5 + 0.5)
    return np.clip(ij, 0, MAX_SIZE - 1).astype(np.int64)


def si_ti_to_st(si):
    """(1/MAX_SITI) * si, exactly as S2Projections.java:659-661."""
    return (1.0 / MAX_SITI) * np.asarray(si, dtype=np.float64)


def ij_to_st_min(i):
    """Minimum s/t of leaf cell i (S2Projections.java:646-649)."""
    return (1.0 / MAX_SIZE) * np.asarray(i, dtype=np.float64)


# ---------------------------------------------------------------------------
# Point <-> cell id
# ---------------------------------------------------------------------------

#: rows per cache block in the chunked encode loops: the ~20 elementwise
#: passes of the projection + Hilbert chain stay L2-resident (64k rows x
#: 8 B = 512 KiB per temporary) instead of streaming 8 MB arrays through
#: memory every pass — measured 1.3-2x on 1M-row batches, bit-identical
_ENCODE_CHUNK = 1 << 16


def xyz_to_cell_id(x, y, z, level: int | np.ndarray = MAX_LEVEL) -> np.ndarray:
    """Cell id containing the direction (x,y,z) (S2CellId.java:281-287)."""
    face = xyz_to_face(x, y, z)
    u, v = face_xyz_to_uv(face, x, y, z)
    i = st_to_ij(uv_to_st(u))
    j = st_to_ij(uv_to_st(v))
    leaf = from_face_ij(face, i, j)
    if np.all(np.asarray(level) == MAX_LEVEL):
        return leaf
    return parent(leaf, level)


def latlng_to_cell_id(lat_rad, lng_rad, level: int | np.ndarray = MAX_LEVEL):
    """Cell id from lat/lng radians (S2CellId.java:294-296).

    Large 1-D batches run in _ENCODE_CHUNK blocks so every pass of the
    conversion chain stays cache-resident."""
    lat = np.asarray(lat_rad, dtype=np.float64)
    lng = np.asarray(lng_rad, dtype=np.float64)
    if (
        lat.ndim == 1
        and lat.shape == lng.shape
        and lat.shape[0] > _ENCODE_CHUNK
    ):
        lvl_arr = np.asarray(level)
        out = np.empty(lat.shape[0], dtype=np.uint64)
        for lo in range(0, lat.shape[0], _ENCODE_CHUNK):
            sl = slice(lo, lo + _ENCODE_CHUNK)
            lvl = lvl_arr[sl] if lvl_arr.ndim == 1 else level
            x, y, z = latlng_to_xyz(lat[sl], lng[sl])
            out[sl] = xyz_to_cell_id(x, y, z, lvl)
        return out
    x, y, z = latlng_to_xyz(lat, lng)
    return xyz_to_cell_id(x, y, z, level)


def latlng_degrees_to_cell_id(lat_deg, lng_deg, level: int | np.ndarray = MAX_LEVEL):
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lng = np.radians(np.asarray(lng_deg, dtype=np.float64))
    return latlng_to_cell_id(lat, lng, level)


def get_center_si_ti(ids):
    """(si,ti) of the cell center (S2CellId.java:398-422 delta logic)."""
    ids = _as_u64(ids)
    face, i, j, _ = to_face_ij_orientation(ids)
    leaf = (ids & _U64_1).astype(bool)
    odd = ((i ^ (ids >> np.uint64(2)).astype(np.int64)) & 1) != 0
    delta = np.where(leaf, 1, np.where(odd, 2, 0))
    return face, 2 * i + delta, 2 * j + delta


def cell_id_to_xyz_raw(ids):
    """Non-normalized center direction vector (S2CellId.java:338-351)."""
    face, si, ti = get_center_si_ti(ids)
    u = st_to_uv(si_ti_to_st(si))
    v = st_to_uv(si_ti_to_st(ti))
    return face_uv_to_xyz(face, u, v)


def cell_id_to_xyz(ids):
    x, y, z = cell_id_to_xyz_raw(ids)
    n = np.sqrt(x * x + y * y + z * z)
    return x / n, y / n, z / n


def cell_id_to_latlng(ids):
    """Center lat/lng radians (normalization irrelevant for atan2)."""
    x, y, z = cell_id_to_xyz_raw(ids)
    return xyz_to_latlng(x, y, z)


# ---------------------------------------------------------------------------
# Cell-id algebra (branch-free bit math; S2CellId.java:454-876, 1610-1648)
# ---------------------------------------------------------------------------

def lowest_on_bit(ids) -> np.ndarray:
    ids = _as_u64(ids)
    return ids & (~ids + _U64_1)


def lowest_on_bit_for_level(level) -> np.ndarray:
    return _U64_1 << (np.uint64(2) * (np.uint64(MAX_LEVEL) - np.asarray(level, dtype=np.uint64)))


def level(ids) -> np.ndarray:
    """level = 30 - trailing_zeros/2. log2 of a power of two is exact."""
    lsb = lowest_on_bit(ids)
    tz = np.log2(lsb.astype(np.float64)).astype(np.int64)
    return MAX_LEVEL - (tz >> 1)


def is_leaf(ids) -> np.ndarray:
    return (_as_u64(ids) & _U64_1) != 0


def is_valid(ids) -> np.ndarray:
    ids = _as_u64(ids)
    face_ok = (ids >> np.uint64(POS_BITS)) < np.uint64(NUM_FACES)
    lsb_ok = (lowest_on_bit(ids) & np.uint64(0x1555555555555555)) != 0
    return face_ok & lsb_ok


def face(ids) -> np.ndarray:
    return (_as_u64(ids) >> np.uint64(POS_BITS)).astype(np.int64)


def pos(ids) -> np.ndarray:
    return _as_u64(ids) & np.uint64((1 << POS_BITS) - 1)


def parent(ids, level) -> np.ndarray:
    ids = _as_u64(ids)
    new_lsb = lowest_on_bit_for_level(level)
    return (ids & (~new_lsb + _U64_1)) | new_lsb


def immediate_parent(ids) -> np.ndarray:
    ids = _as_u64(ids)
    new_lsb = lowest_on_bit(ids) << np.uint64(2)
    return (ids & (~new_lsb + _U64_1)) | new_lsb


def child(ids, position) -> np.ndarray:
    """Child at traversal position 0-3 (S2CellId.java:638-646)."""
    ids = _as_u64(ids)
    new_lsb = lowest_on_bit(ids) >> np.uint64(2)
    position = np.asarray(position, dtype=np.uint64)
    with np.errstate(over="ignore"):
        return ids + (np.uint64(2) * position + _U64_1 - np.uint64(4)) * new_lsb


def child_begin(ids, level=None) -> np.ndarray:
    ids = _as_u64(ids)
    old_lsb = lowest_on_bit(ids)
    if level is None:
        return ids - old_lsb + (old_lsb >> np.uint64(2))
    return ids - old_lsb + lowest_on_bit_for_level(level)


def child_end(ids, level=None) -> np.ndarray:
    ids = _as_u64(ids)
    old_lsb = lowest_on_bit(ids)
    if level is None:
        return ids + old_lsb + (old_lsb >> np.uint64(2))
    return ids + old_lsb + lowest_on_bit_for_level(level)


def range_min(ids) -> np.ndarray:
    ids = _as_u64(ids)
    return ids - (lowest_on_bit(ids) - _U64_1)


def range_max(ids) -> np.ndarray:
    ids = _as_u64(ids)
    return ids + (lowest_on_bit(ids) - _U64_1)


def next_cell(ids) -> np.ndarray:
    ids = _as_u64(ids)
    return ids + (lowest_on_bit(ids) << _U64_1)


def prev_cell(ids) -> np.ndarray:
    ids = _as_u64(ids)
    return ids - (lowest_on_bit(ids) << _U64_1)


def contains(a, b) -> np.ndarray:
    """a contains b == unsigned range containment (S2CellId.java:598-604)."""
    return (range_min(a) <= range_min(b)) & (range_max(b) <= range_max(a))


def intersects(a, b) -> np.ndarray:
    return (range_min(b) <= range_max(a)) & (range_max(b) >= range_min(a))


def common_ancestor_level(a, b) -> np.ndarray:
    """Level of lowest common ancestor, -1 if none (S2CellId.java:885-894):
    msb of max(a^b, lsb(a), lsb(b)) mapped {0}->30, {1,2}->29, ..."""
    a = _as_u64(a)
    b = _as_u64(b)
    bits = np.maximum(a ^ b, np.maximum(lowest_on_bit(a), lowest_on_bit(b)))
    # exact msb position of a uint64 via bit smearing (float64 log2 is unsafe
    # above 2^53)
    v = bits.copy()
    h = np.zeros(np.shape(bits), dtype=np.int64)
    for shift in (32, 16, 8, 4, 2, 1):
        big = v >= (_U64_1 << np.uint64(shift))
        h += np.where(big, shift, 0)
        v = np.where(big, v >> np.uint64(shift), v)
    nlz = 63 - h
    return np.maximum(nlz - 3, -1) >> 1


def from_face(face_idx) -> np.ndarray:
    f = np.asarray(face_idx, dtype=np.uint64)
    return (f << np.uint64(POS_BITS)) + (_U64_1 << np.uint64(POS_BITS - 1))


def from_face_pos_level(face_idx, pos_val, level) -> np.ndarray:
    f = np.asarray(face_idx, dtype=np.uint64)
    p = np.asarray(pos_val, dtype=np.uint64)
    return parent((f << np.uint64(POS_BITS)) + (p | _U64_1), level)


def begin(level) -> np.ndarray:
    return child_begin(from_face(0), level)


def end(level) -> np.ndarray:
    return child_end(from_face(5), level)


#: One past the last valid cell id position: 6 faces' worth of curve.
WRAP_OFFSET = np.uint64(NUM_FACES) << np.uint64(POS_BITS)


def advance(ids, steps) -> np.ndarray:
    """Advance along the Hilbert curve at this level, clamped to curve ends
    (S2CellId.java:820-841)."""
    ids = _as_u64(ids)
    steps = np.asarray(steps, dtype=np.int64)
    lsb = lowest_on_bit(ids)
    shift = (np.log2(lsb.astype(np.float64)).astype(np.int64) + 1).astype(np.uint64)
    min_steps = -((ids >> shift).astype(np.int64))
    max_steps = ((WRAP_OFFSET + lsb - ids) >> shift).astype(np.int64)
    steps = np.clip(steps, min_steps, max_steps)
    return ids + (steps << shift.astype(np.int64)).view(np.uint64)


def distance_from_begin(ids) -> np.ndarray:
    ids = _as_u64(ids)
    lsb = lowest_on_bit(ids)
    shift = (np.log2(lsb.astype(np.float64)).astype(np.int64) + 1).astype(np.uint64)
    return (ids >> shift).astype(np.int64)


# ---------------------------------------------------------------------------
# Tokens (S2CellId.java:909-996): 16 lowercase hex digits, trailing zeros
# stripped; "X" encodes the invalid id 0.
# ---------------------------------------------------------------------------

def to_token(ids) -> np.ndarray:
    ids = np.atleast_1d(_as_u64(ids))
    out = np.empty(ids.shape, dtype=object)
    for idx, v in np.ndenumerate(ids):
        if v == 0:
            out[idx] = "X"
        else:
            out[idx] = format(int(v), "016x").rstrip("0")
    return out


def from_token(tokens) -> np.ndarray:
    tokens = np.atleast_1d(np.asarray(tokens, dtype=object))
    out = np.zeros(tokens.shape, dtype=np.uint64)
    for idx, t in np.ndenumerate(tokens):
        if not t or t == "X" or len(t) > 16:
            out[idx] = 0
            continue
        try:
            v = int(t, 16)
        except ValueError:
            out[idx] = 0
            continue
        out[idx] = np.uint64(v << (4 * (16 - len(t))))
    return out


# ---------------------------------------------------------------------------
# Signed-bias helpers (Spark interop)
# ---------------------------------------------------------------------------

def to_signed(ids) -> np.ndarray:
    """Reinterpret uint64 ids as int64 (raw bits; for storage in Spark)."""
    return np.atleast_1d(_as_u64(ids)).view(np.int64)


def from_signed(ids) -> np.ndarray:
    """Reinterpret int64 column back to uint64 ids."""
    return np.asarray(ids, dtype=np.int64).view(np.uint64)


def to_biased(ids) -> np.ndarray:
    """uint64 id -> order-preserving signed int64 (id XOR 2^63)."""
    return (np.atleast_1d(_as_u64(ids)) ^ BIAS).view(np.int64)


def from_biased(biased) -> np.ndarray:
    return (np.atleast_1d(np.asarray(biased, dtype=np.int64)).view(np.uint64)) ^ BIAS


# ---------------------------------------------------------------------------
# Neighbors (S2CellId.java:1004-1153, fromFaceIJWrap :1455-1488)
# ---------------------------------------------------------------------------

_IJ_TO_ST_LINEAR = 1.0 / MAX_SIZE
_DBL_EPSILON = float(np.finfo(np.float64).eps)


def from_face_ij_wrap(face_idx, i, j) -> np.ndarray:
    """Leaf cell for (i,j) outside the face's valid range, wrapped onto the
    adjacent face via the linear u=2s-1 projection (S2CellId.java:1455-1488)."""
    i = np.clip(np.asarray(i, dtype=np.int64), -1, MAX_SIZE)
    j = np.clip(np.asarray(j, dtype=np.int64), -1, MAX_SIZE)
    k_limit = 1.0 + _DBL_EPSILON
    u = np.clip(_IJ_TO_ST_LINEAR * ((i * 2) + 1 - MAX_SIZE), -k_limit, k_limit)
    v = np.clip(_IJ_TO_ST_LINEAR * ((j * 2) + 1 - MAX_SIZE), -k_limit, k_limit)
    x, y, z = face_uv_to_xyz(np.asarray(face_idx, dtype=np.int64), u, v)
    new_face = xyz_to_face(x, y, z)
    nu, nv = face_xyz_to_uv(new_face, x, y, z)
    return from_face_ij(new_face, st_to_ij(0.5 * (1 + nu)), st_to_ij(0.5 * (1 + nv)))


def from_face_ij_same(face_idx, i, j, same_face) -> np.ndarray:
    """fromFaceIJ when in range, else wrap (S2CellId.java:1493-1500)."""
    same_face = np.asarray(same_face, dtype=bool)
    # Clamp the in-range path's inputs so both branches are safe to evaluate.
    safe_i = np.clip(np.asarray(i, dtype=np.int64), 0, MAX_SIZE - 1)
    safe_j = np.clip(np.asarray(j, dtype=np.int64), 0, MAX_SIZE - 1)
    inside = from_face_ij(np.asarray(face_idx, dtype=np.int64), safe_i, safe_j)
    wrapped = from_face_ij_wrap(face_idx, i, j)
    return np.where(same_face, inside, wrapped)


def get_edge_neighbors(ids) -> np.ndarray:
    """The 4 neighbors across each edge, shape (n, 4) (S2CellId.java:1004-1018)."""
    ids = np.atleast_1d(_as_u64(ids))
    lvl = level(ids)
    size = np.asarray(1, dtype=np.int64) << (MAX_LEVEL - lvl)
    f, i, j, _ = to_face_ij_orientation(ids)
    down = parent(from_face_ij_same(f, i, j - size, j - size >= 0), lvl)
    right = parent(from_face_ij_same(f, i + size, j, i + size < MAX_SIZE), lvl)
    up = parent(from_face_ij_same(f, i, j + size, j + size < MAX_SIZE), lvl)
    left = parent(from_face_ij_same(f, i - size, j, i - size >= 0), lvl)
    return np.stack([down, right, up, left], axis=1)


def get_all_neighbors(cid, nbr_level: int) -> list[int]:
    """All neighbors of one cell at ``nbr_level`` >= its level
    (S2CellId.visitNeighbors :1108-1153): the full ring of finer-level
    cells around the boundary. Scalar — used driver-side by covering
    expansion where unions are tiny; may emit duplicates at cube corners
    exactly like the reference (callers normalize)."""
    u = np.uint64(cid)
    lvl = int(level(u))
    if nbr_level < lvl:
        raise ValueError(f"nbr_level {nbr_level} < cell level {lvl}")
    f, i, j, _ = to_face_ij_orientation(u)
    size = 1 << (MAX_LEVEL - lvl)
    fi = int(np.atleast_1d(f)[0])
    ii = int(np.atleast_1d(i)[0]) & -size
    jj = int(np.atleast_1d(j)[0]) & -size
    nbr_size = 1 << (MAX_LEVEL - nbr_level)

    def emit(x, y, same):
        return int(
            np.atleast_1d(parent(from_face_ij_same(fi, x, y, bool(same)), nbr_level))[0]
        )

    out: list[int] = []
    k = -nbr_size
    while True:
        if k < 0:
            same_face = jj + k >= 0
        elif k >= size:
            same_face = jj + k < MAX_SIZE
        else:
            same_face = True
            # top and bottom neighbors
            out.append(emit(ii + k, jj - nbr_size, jj - size >= 0))
            out.append(emit(ii + k, jj + size, jj + size < MAX_SIZE))
        # left, right (and diagonal) neighbors
        out.append(emit(ii - nbr_size, jj + k, same_face and (ii - size >= 0)))
        out.append(emit(ii + size, jj + k, same_face and (ii + size < MAX_SIZE)))
        if k >= size:
            break
        k += nbr_size
    return out


def get_all_neighbors_same_level(ids) -> np.ndarray:
    """All 8 edge+vertex neighbors at the cell's own level, shape (n, 8).

    Specialization of visitNeighbors (S2CellId.java:1112-1153) with
    nbrLevel == level: the k-loop runs exactly {-size, 0, size}. Cells at
    cube corners repeat a neighbor (same as the reference's duplicates).
    """
    ids = np.atleast_1d(_as_u64(ids))
    lvl = level(ids)
    size = np.asarray(1, dtype=np.int64) << (MAX_LEVEL - lvl)
    f, i, j, _ = to_face_ij_orientation(ids)
    i = i & (-size)
    j = j & (-size)
    out = []
    for k_mult in (-1, 0, 1):
        k = k_mult * size
        if k_mult < 0:
            same = j + k >= 0
        elif k_mult > 0:
            same = j + k < MAX_SIZE
        else:
            same = np.ones(len(np.atleast_1d(ids)), dtype=bool)
            out.append(parent(from_face_ij_same(f, i + k, j - size, j - size >= 0), lvl))
            out.append(parent(from_face_ij_same(f, i + k, j + size, j + size < MAX_SIZE), lvl))
        out.append(parent(from_face_ij_same(f, i - size, j + k, same & (i - size >= 0)), lvl))
        out.append(parent(from_face_ij_same(f, i + size, j + k, same & (i + size < MAX_SIZE)), lvl))
    return np.stack(out, axis=1)
