"""Point-in-polygon spatial join: the one owner of the point x covering join.

The engine's central query shape (S2ContainsPointQuery semantics,
S2ContainsPointQuery.java:113 / S2Loop.java:1303-1373), restructured for
Spark exactly as SURVEY.md §3.2 plans:

1. ``covering_rows``: polygons -> coverings (kernel.coverer, driver-side:
   polygons are few) as (polygon_id, cell_id, is_interior) rows, where
   is_interior marks the coverer's terminal-contains cells;
2. ``leaf_points``: points get leaf cell ids (one Arrow batch kernel);
3. ``candidate_join``: each point emits its ancestor at every covering
   level and meets the tiny covering table in ONE broadcast hash join on
   cell_id — a map-only stage with NO shuffle of the point table;
4. ``exact_filter``: one exact filter UDF over the candidates; interior
   candidates return True inside it without touching the kernel, the
   boundary sliver runs the polygon's own crossing parity.

pip_join, shapes.pip_join_indexed and tolerant.within_distance_of_polygons
all build their candidates with step 3; the tolerant path swaps step 4 for
its distance UDF.

At 100 TB the point table never shuffles: the covering table is O(polygons
x MAX_CELLS) rows and broadcasts; the PIP kernel sees only boundary-cell
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
from ..localdf import local_df


#: covering cells per polygon for the PIP joins (driver- and executor-side),
#: tolerant.within_distance_of_polygons and booleanops' candidate pairs
MAX_CELLS = 8

#: driver-side memo for covering rows: the covering of a polygon is a pure
#: function of its geometry + coverer params and is independent of any input
#: table, yet the coverer costs ~0.02-0.05 s of driver time per polygon
#: (4 cpus, perfbench-shaped loops of 8-1,024 vertices) — paid on EVERY
#: pip_join plan build. Keyed by a digest of loop vertices +
#: orientation + params; bounded LRU (a hit moves its key to the end, the
#: first key is evicted) so dynamically-constructed polygons (boolean-op
#: results) can't grow it without bound.
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


def memoized_rows(key: bytes, build) -> tuple[tuple, ...]:
    """``tuple(build())`` stored in the covering memo under ``key``."""
    rows = _COVERING_MEMO.pop(key, None)
    if rows is None:
        if len(_COVERING_MEMO) >= _COVERING_MEMO_CAP:
            _COVERING_MEMO.pop(next(iter(_COVERING_MEMO)))
        # a tuple: every caller shares the memoized value, so none may mutate it
        rows = tuple(build())
    # (re-)inserted last: the least recently used key stays first
    _COVERING_MEMO[key] = rows
    return rows


def covering_cells(coverer, poly) -> list[tuple[int, bool]]:
    """(signed cell_id, is_interior) for each cell of one polygon's covering.

    is_interior marks covering cells fully contained in the polygon
    (one batched call of the polygon's own contains-cell test over the
    whole covering), enabling the exact-test skip (SURVEY.md §4 'interior
    fast accept').
    """
    tests, _ = rg.region_cell_tests(poly)
    ids = coverer.get_covering(poly)
    _, interior = tests(ids)
    signed = s2.to_signed(np.array(ids, dtype=np.uint64))
    return [(int(cid), bool(f)) for cid, f in zip(signed, interior)]


def covering_rows(polygons: dict) -> tuple[tuple, ...]:
    """(polygon_id, cell_id, is_interior) rows of ``covering_cells``."""

    def build():
        coverer = cov.RegionCoverer(max_cells=MAX_CELLS)
        for pid, poly in polygons.items():
            for cid, interior in covering_cells(coverer, poly):
                yield pid, cid, interior

    return memoized_rows(polygons_geometry_key(polygons, "cov"), build)


def leaf_points(
    points: DataFrame,
    point_id: str = "id",
    lat: str = "lat",
    lng: str = "lng",
    leaf_col: str | None = None,
) -> DataFrame:
    """(point_id, lat, lng, leaf): the leaf cell id comes from the Arrow
    encoder unless the caller already has one in ``leaf_col``."""
    leaf = F.col(leaf_col) if leaf_col else udfs.cell_id_from_latlng_deg(F.col(lat), F.col(lng), 30)
    return points.select(
        F.col(point_id).alias("point_id"),
        F.col(lat).alias("lat"),
        F.col(lng).alias("lng"),
        leaf.alias("leaf"),
    )


def candidate_join(
    spark,
    pts: DataFrame,
    rows,
    schema: str = "polygon_id string, cell_id long, is_interior boolean",
) -> DataFrame:
    """Every (point, covering row) pair whose cell contains the point.

    ``pts`` carries a ``leaf`` column; ``rows`` are driver-side covering
    rows in ``schema`` whose first two fields are (polygon_id, cell_id).
    The Hilbert-range containment test ``range_min <= leaf <= range_max``
    is equivalent to ``parent(leaf, level(cell)) == cell``, so instead of
    a (non-codegen, per-row interpreted) broadcast nested-loop range join,
    each point emits its ancestor at every level present in the covering
    set (a handful) and the join is a broadcast HASH join on the cell id —
    whole-stage-codegen, linear, and the exact plan that survives a 100x
    scale-up (measured 10x faster than the BNLJ form at 400k points).
    """
    ids = np.array([r[1] for r in rows], dtype=np.int64)
    levels = np.unique(s2.level(s2.from_signed(ids))).tolist()
    cov_df = F.broadcast(local_df(spark, rows, schema))
    return pts.select(
        *[c for c in pts.columns if c != "leaf"],
        F.explode(F.array(*[cc.parent("leaf", lv) for lv in levels])).alias("cell_id"),
    ).join(cov_df, "cell_id")


def exact_filter(cand: DataFrame, polygons: dict) -> DataFrame:
    """The candidate rows whose point lies in their polygon: one pandas
    UDF over (is_interior, polygon_id, lat, lng).

    Interior-cell candidates return True without touching the geometry;
    the rest run the polygon's own crossing parity
    (``Polygon.contains_points``). The dict (polygon_id ->
    kernel.region.Polygon) is tiny and ships to executors in the UDF
    closure — the 'broadcast small side' of §3.2.
    """

    @pandas_udf(BooleanType())
    def pip_filter(
        is_interior: pd.Series, pid: pd.Series, lat: pd.Series, lng: pd.Series
    ) -> pd.Series:
        out = is_interior.to_numpy(dtype=bool).copy()
        boundary = np.flatnonzero(~out)
        if len(boundary):
            x, y, z = s2.latlng_to_xyz(
                np.radians(lat.to_numpy(np.float64)[boundary]),
                np.radians(lng.to_numpy(np.float64)[boundary]),
            )
            bpid = pid.to_numpy()[boundary]
            for p in pd.unique(bpid):
                m = bpid == p
                out[boundary[m]] = polygons[p].contains_points(x[m], y[m], z[m])
        return pd.Series(out)

    return cand.where(
        pip_filter(F.col("is_interior"), F.col("polygon_id"), F.col("lat"), F.col("lng"))
    )


def pip_join(
    spark,
    points: DataFrame,
    polygons: dict,
    point_id: str = "id",
    lat: str = "lat",
    lng: str = "lng",
    leaf_col: str | None = None,
) -> DataFrame:
    """(point_id, polygon_id) for every point contained in each polygon.

    Pass ``leaf_col`` when the caller already computed leaf cell ids (e.g.
    after tiling) — saves a second Arrow kernel pass over the point table.
    """
    cand = candidate_join(
        spark,
        leaf_points(points, point_id, lat, lng, leaf_col),
        covering_rows(polygons),
    )
    return exact_filter(cand, polygons).select("point_id", "polygon_id")
