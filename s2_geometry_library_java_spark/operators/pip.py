"""Point-in-polygon spatial join.

The engine's central query shape (S2ContainsPointQuery semantics,
S2ContainsPointQuery.java:113 / S2Loop.java:1303-1373), restructured for
Spark exactly as SURVEY.md §3.2 plans:

1. polygons -> coverings (kernel.coverer, driver-side: polygons are few)
   exploded to (polygon_id, range_min_b, range_max_b, is_interior) rows;
2. points get leaf cell ids (one Arrow batch kernel) biased for ordering;
3. broadcast range join: candidate pairs are points whose leaf id falls in
   a covering cell's Hilbert range — Catalyst turns this into a broadcast
   nested-loop join over the tiny covering table, i.e. a map-only stage
   with NO shuffle of the point table;
4. interior-cell candidates are accepted immediately (is_interior flag —
   the coverer's terminal-contains cells); only boundary-cell candidates
   run the exact crossing-parity kernel against the polygon's edges.

At 100 TB the point table never shuffles: the covering table is O(polygons
x max_cells) rows and broadcasts; the PIP kernel sees only boundary-cell
candidates (a thin sliver of the data).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from ..functions import columns as cc
from ..functions import udfs
from ..kernel import cellid as s2
from ..kernel import coverer as cov
from ..kernel import region as rg
from ..kernel.cell import Cell
from ..localdf import local_df


#: driver-side memo for covering_rows: the covering of a polygon is a pure
#: function of its geometry + coverer params and is independent of any input
#: table, yet the coverer costs ~0.5 s of driver time per 6-polygon call —
#: paid on EVERY pip_join plan build. Keyed by a digest of loop vertices +
#: orientation + params; bounded LRU so dynamically-constructed polygons
#: (boolean-op results) can't grow it without bound.
_COVERING_MEMO: dict = {}
_COVERING_MEMO_CAP = 256


def polygons_geometry_key(polygons: dict, *params) -> bytes:
    """Digest of the polygon dict's exact geometry (vertex doubles +
    origin_inside orientation per loop) + extra scalar params."""
    import hashlib

    h = hashlib.md5()
    for pid, poly in polygons.items():
        h.update(str(pid).encode())
        for lp in poly.loops:
            h.update(np.ascontiguousarray(lp.vertices, dtype=np.float64).tobytes())
            h.update(b"1" if lp.origin_inside else b"0")
    h.update(repr(params).encode())
    return h.digest()


def covering_rows(
    polygons: dict, max_cells: int = 8, min_level: int = 0, max_level: int = 30
) -> tuple[tuple, ...]:
    """(polygon_id, cell_id, range_min_b, range_max_b, is_interior) rows.

    is_interior marks covering cells fully contained in the polygon
    (computed with the polygon's own contains-cell test), enabling the
    exact-test skip (SURVEY.md §4 'interior fast accept').
    """
    key = polygons_geometry_key(polygons, "cov", max_cells, min_level, max_level)
    memo = _COVERING_MEMO.get(key)
    if memo is not None:
        return memo
    rows = []
    coverer = cov.RegionCoverer(
        max_cells=max_cells, min_level=min_level, max_level=max_level
    )
    for pid, poly in polygons.items():
        contains_cell, _, _ = rg.region_cell_tests(poly)
        for cid in coverer.get_covering(poly):
            u = np.uint64(cid)
            interior = bool(contains_cell(Cell(cid)))
            rows.append(
                (
                    pid,
                    int(s2.to_signed(u)[0]),
                    int(s2.to_biased(s2.range_min(u))[0]),
                    int(s2.to_biased(s2.range_max(u))[0]),
                    interior,
                )
            )
    if len(_COVERING_MEMO) >= _COVERING_MEMO_CAP:
        _COVERING_MEMO.pop(next(iter(_COVERING_MEMO)))
    # a tuple: every caller shares the memoized value, so none may mutate it
    rows = tuple(rows)
    _COVERING_MEMO[key] = rows
    return rows


def make_pip_contains_udf(polygons: dict):
    """Exact containment pandas UDF closed over the polygon geometry.

    The dict (polygon_id -> kernel.region.Polygon) is tiny and ships to
    executors in the UDF closure — the 'broadcast small side' of §3.2.
    """
    verts = {
        pid: [lp.vertices for lp in poly.loops] for pid, poly in polygons.items()
    }
    origins_inside = {
        pid: [lp.origin_inside for lp in poly.loops] for pid, poly in polygons.items()
    }

    @pandas_udf(BooleanType())
    def pip_contains(pid: pd.Series, lat: pd.Series, lng: pd.Series) -> pd.Series:
        from ..kernel import predicates

        lat_r = np.radians(lat.to_numpy(np.float64))
        lng_r = np.radians(lng.to_numpy(np.float64))
        x, y, z = s2.latlng_to_xyz(lat_r, lng_r)
        pts = np.stack([x, y, z], axis=1)
        out = np.zeros(len(pts), dtype=bool)
        for p in pd.unique(pid):
            mask = (pid == p).to_numpy()
            sub = pts[mask]
            inside = np.zeros(len(sub), dtype=bool)
            for loop_v, oi in zip(verts[p], origins_inside[p]):
                crossings = predicates.count_crossings(rg.Loop.ORIGIN, sub, loop_v)
                inside ^= np.where((crossings & 1) == 1, not oi, oi)
            out[mask] = inside
        return pd.Series(out)

    return pip_contains


def pip_join(
    spark,
    points: DataFrame,
    polygons: dict,
    point_id: str = "id",
    lat: str = "lat",
    lng: str = "lng",
    max_cells: int = 8,
    leaf_col: str | None = None,
) -> DataFrame:
    """(point_id, polygon_id) for every point contained in each polygon.

    Pass ``leaf_col`` when the caller already computed leaf cell ids (e.g.
    after tiling) — saves a second Arrow kernel pass over the point table.

    Physical shape: the Hilbert-range containment test ``range_min <= leaf
    <= range_max`` is equivalent to ``parent(leaf, level(cell)) == cell``,
    so instead of a (non-codegen, per-row interpreted) broadcast
    nested-loop range join, each point emits its ancestor at every level
    present in the covering set (a handful) and the join is a broadcast
    HASH join on the cell id — whole-stage-codegen, linear, and the exact
    plan that survives a 100x scale-up (measured 10x faster than the BNLJ
    form at 400k points even locally).
    """
    rows = covering_rows(polygons, max_cells=max_cells)
    levels = sorted({int(s2.level(np.uint64(np.int64(r[1]).view(np.uint64)))) for r in rows})
    cov_df = F.broadcast(
        local_df(spark, 
            rows,
            "polygon_id string, cell_id long, range_min_b long, range_max_b long, is_interior boolean",
        ).select("polygon_id", "cell_id", "is_interior")
    )
    if leaf_col is not None:
        leaf = F.col(leaf_col)
    else:
        leaf = udfs.cell_id_from_latlng_deg(F.col(lat), F.col(lng), 30)
    pts = points.select(
        F.col(point_id).alias("point_id"),
        F.col(lat).alias("lat"),
        F.col(lng).alias("lng"),
        leaf.alias("leaf"),
    )
    cand = pts.select(
        "point_id",
        "lat",
        "lng",
        F.explode(F.array(*[cc.parent("leaf", lv) for lv in levels])).alias("cell_id"),
    ).join(cov_df, "cell_id")
    pip = make_pip_contains_udf(polygons)
    hits = cand.where(
        F.col("is_interior") | pip(F.col("polygon_id"), F.col("lat"), F.col("lng"))
    )
    return hits.select("point_id", "polygon_id")


def make_convex_pip_filter(polygons: dict):
    """JVM-side exact-enough containment for CONVEX single-loop polygons:
    point is inside iff det(a, b, p) > 0 for every CCW edge (a,b) — plain
    Column arithmetic with the loop vertices inlined as literals, fully
    inside whole-stage codegen (no Python). The general crossing-parity
    kernel (make_pip_contains_udf) remains the path for concave/holed
    geometry; callers pick via pip_join(convex_fast_path=True).

    Returns fn(polygon_id_col, px, py, pz) -> BooleanColumn.
    """
    edges = {}
    for pid, poly in polygons.items():
        assert len(poly.loops) == 1, "convex fast path requires single loops"
        v = poly.loops[0].vertices
        edges[pid] = [(v[k], v[(k + 1) % len(v)]) for k in range(len(v))]

    def contains(pid_col, px, py, pz):
        expr = None
        for pid, es in edges.items():
            inside = None
            for a, b in es:
                det = (
                    F.lit(float(a[0])) * (F.lit(float(b[1])) * pz - F.lit(float(b[2])) * py)
                    + F.lit(float(a[1])) * (F.lit(float(b[2])) * px - F.lit(float(b[0])) * pz)
                    + F.lit(float(a[2])) * (F.lit(float(b[0])) * py - F.lit(float(b[1])) * px)
                )
                term = det > 0
                inside = term if inside is None else (inside & term)
            branch = (pid_col == pid) & inside
            expr = branch if expr is None else (expr | branch)
        return expr

    return contains


def pip_join_convex(
    spark,
    points,
    polygons: dict,
    point_id: str = "id",
    lat: str = "lat",
    lng: str = "lng",
    max_cells: int = 8,
    leaf_col: str | None = None,
):
    """pip_join variant with ZERO Python stages: covering broadcast hash
    join + interior fast-accept + JVM convex det filter. Exactly equal to
    pip_join for convex CCW polygons (both reduce to the same halfspace
    membership; divergence would need a point within ~1 ulp of an edge)."""
    from ..functions import encode_cols

    rows = covering_rows(polygons, max_cells=max_cells)
    levels = sorted({int(s2.level(np.uint64(np.int64(r[1]).view(np.uint64)))) for r in rows})
    cov_df = F.broadcast(
        local_df(spark, 
            rows,
            "polygon_id string, cell_id long, range_min_b long, range_max_b long, is_interior boolean",
        ).select("polygon_id", "cell_id", "is_interior")
    )
    base = points.select(
        F.col(point_id).alias("point_id"),
        F.col(lat).alias("lat"),
        F.col(lng).alias("lng"),
        *([F.col(leaf_col).alias("leaf")] if leaf_col else []),
    )
    if leaf_col is None:
        # staged encoder (with_cell_id), NOT the monolithic cell_id_col: the
        # single-expression form duplicates the projection tree ~2^8 times
        # through the chained Hilbert steps, which can overflow the codegen
        # stack on a hot session and is ~10x slower to evaluate.
        base = encode_cols.with_cell_id(base, "lat", "lng", out="leaf")
    pts = base
    x, y, z = encode_cols.xyz_cols(F.col("lat"), F.col("lng"))
    cand = (
        pts.withColumns({"_px": x, "_py": y, "_pz": z})
        .select(
            "point_id",
            "_px",
            "_py",
            "_pz",
            F.explode(F.array(*[cc.parent("leaf", lv) for lv in levels])).alias("cell_id"),
        )
        .join(cov_df, "cell_id")
    )
    convex = make_convex_pip_filter(polygons)
    hits = cand.where(
        F.col("is_interior")
        | convex(F.col("polygon_id"), F.col("_px"), F.col("_py"), F.col("_pz"))
    )
    return hits.select("point_id", "polygon_id")
