"""F2: distance-tolerant spatial joins ("all pairs within X").

Reimplements the intent of S2CellIteratorJoin.tolerantJoin
(S2CellIteratorJoin.java:221-445) in DataFrame terms. The reference walks
two cell iterators, buffering by ``isDistanceLessOrEqual(tolerance)`` and
subdividing when the cross product exceeds 25 pairs; the Spark form keys
both sides by a radius-derived cell level and equi-joins:

* ``tolerant_pairs`` (point x point): pick L = the largest level whose
  MIN_WIDTH >= radius (so two points within radius can never be more than
  one cell apart at L), key side A by its level-L cell, explode side B to
  its level-L cell plus the 8 ring neighbors (kernel A13), broadcast-free
  EQUI-join on the cell key, then the exact chord-distance post-filter —
  all JVM columns except the cell-id encode, no cross product, one shuffle
  per side. Each true pair matches on exactly one key (A's cell occurs
  once in B's distinct probe list), so no dedup pass is needed.

* ``within_distance_of_polygons`` (point x region): each polygon's
  covering is buffered with union_expand_radius (S2CellUnion.expand — the
  reference's tolerant pre-filter), broadcast, hash-joined on ancestor
  cells exactly like the PIP join, then the exact test: inside the polygon
  (distance 0) or min edge chord-distance <= radius (A21 kernel).

Scale notes: the pair join shuffles on cell keys, so a hot cell (everything
in one metro at a radius spanning it) concentrates; AQE skew-join splits
it at runtime, and plans.density.with_hot_cell_salt is the explicit dual.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from ..functions import columns as cc
from ..functions import udfs
from ..kernel import cellid as s2
from ..kernel import coverer as cov
from ..kernel import sphere
from . import pip


#: Max radius for which the level-0 (face) 3x3-ring adjacency guarantee
#: holds: two NON-adjacent faces (opposite cube faces) are separated by at
#: least acos(1/3) (the angle between adjacent cube corners, e.g.
#: (1,1,1)/sqrt(3) and (-1,1,1)/sqrt(3)), so any pair within this radius is
#: on the same or an adjacent face.
MAX_TOLERANT_RADIUS = float(np.arccos(1.0 / 3.0))


def level_for_radius(radius_rad: float) -> int:
    """Largest level whose MIN_WIDTH >= radius: at this level two points
    within radius are in the same or edge/vertex-adjacent cells. Raises
    for radii beyond the level-0 adjacency guarantee (acos(1/3)): points
    that far apart can sit on OPPOSITE cube faces, which the ring probe
    would silently miss — callers must use a brute cross join instead."""
    if float(radius_rad) > MAX_TOLERANT_RADIUS:
        raise ValueError(
            f"radius {float(radius_rad):.4f} rad exceeds the level-0 cell "
            f"adjacency guarantee ({MAX_TOLERANT_RADIUS:.4f} = acos(1/3)); "
            "the ring equi-join cannot prove completeness — use a brute "
            "cross join for near-hemispheric radii"
        )
    return sphere.metric_max_level(sphere.MIN_WIDTH_DERIV, float(radius_rad))


def _xyz(df: DataFrame, lat: str, lng: str, prefix: str) -> DataFrame:
    p = udfs.latlng_deg_to_xyz(F.col(lat), F.col(lng))
    return (
        df.withColumn("_p", p)
        .withColumn(f"{prefix}x", F.col("_p.x"))
        .withColumn(f"{prefix}y", F.col("_p.y"))
        .withColumn(f"{prefix}z", F.col("_p.z"))
        .drop("_p")
    )


def tolerant_pairs(
    a: DataFrame,
    b: DataFrame,
    radius_rad: float,
    a_id: str = "a_id",
    b_id: str = "b_id",
    lat: str = "lat",
    lng: str = "lng",
) -> DataFrame:
    """(a_id, b_id, chord2) for all cross pairs within radius_rad.

    Side B carries the 9x ring fanout — pass the smaller table as ``b``.
    """
    level = level_for_radius(radius_rad)
    threshold = float(sphere.chord2_from_angle(radius_rad))
    # coalesce makes the join key non-nullable: otherwise the join's pushed
    # isnotnull filter re-evaluates the Arrow encode kernel a second time
    # over the big side (visible as two ArrowEvalPython nodes in the plan)
    key = lambda: F.coalesce(  # noqa: E731
        cc.parent(udfs.cell_id_from_latlng_deg(F.col(lat), F.col(lng), 30), level),
        F.lit(0).cast("long"),
    )
    aa = _xyz(a, lat, lng, "a").select(
        F.col(a_id).alias("a_id"),
        "ax",
        "ay",
        "az",
        key().alias("cell"),
    )
    bb = _xyz(b, lat, lng, "b").select(
        F.col(b_id).alias("b_id"),
        "bx",
        "by",
        "bz",
        key().alias("bcell"),
    )
    probe = bb.select(
        "b_id",
        "bx",
        "by",
        "bz",
        F.explode(
            F.array_union(F.array(F.col("bcell")), udfs.all_neighbors(F.col("bcell")))
        ).alias("cell"),
    )
    dx = F.col("ax") - F.col("bx")
    dy = F.col("ay") - F.col("by")
    dz = F.col("az") - F.col("bz")
    chord2 = F.least(dx * dx + dy * dy + dz * dz, F.lit(4.0))
    return (
        aa.join(probe, "cell")
        .select("a_id", "b_id", chord2.alias("chord2"))
        .where(F.col("chord2") <= F.lit(threshold))
    )


# ---------------------------------------------------------------------------
# point x polygon within-distance
# ---------------------------------------------------------------------------

def expanded_covering_rows(polygons: dict, radius_rad: float) -> tuple[tuple, ...]:
    """(polygon_id, cell_id) rows of each polygon's covering buffered by
    radius (kernel union_expand_radius = S2CellUnion.expand(S1Angle)).
    Memoized like pip.covering_rows (pip.memoized_rows): pure function of
    geometry + params, ~0.5 s of driver plan-build time per call otherwise."""

    def build():
        coverer = cov.RegionCoverer(max_cells=pip.MAX_CELLS)
        for pid, poly in polygons.items():
            ids = cov.union_expand_radius(coverer.get_covering(poly), radius_rad)
            yield from ((pid, int(s2.to_signed(np.uint64(c))[0])) for c in ids)

    key = pip.polygons_geometry_key(polygons, "expcov", radius_rad)
    return pip.memoized_rows(key, build)


def make_polygon_distance_udf(polygons: dict):
    """pandas UDF (polygon_id, lat, lng) -> chord2 distance to the polygon
    region: 0.0 when inside, else min A21 edge chord distance over all
    loop boundary edges."""
    geom = {}
    for pid, poly in polygons.items():
        chains = []
        for lp in poly.loops:
            va = lp.vertices
            vb = np.roll(va, -1, axis=0)
            chains.append((va, vb))
        geom[pid] = (poly, chains)

    @pandas_udf(DoubleType())
    def polygon_chord2(pid: pd.Series, lat: pd.Series, lng: pd.Series) -> pd.Series:
        from ..kernel import edges

        lat_r = np.radians(lat.to_numpy(np.float64))
        lng_r = np.radians(lng.to_numpy(np.float64))
        x, y, z = s2.latlng_to_xyz(lat_r, lng_r)
        pts = np.stack([x, y, z], axis=1)
        out = np.full(len(pts), 4.0)
        for p in pd.unique(pid):
            mask = (pid == p).to_numpy()
            sub = pts[mask]
            poly, chains = geom[p]
            inside = poly.contains_points(sub[:, 0], sub[:, 1], sub[:, 2])
            d = np.full(len(sub), 4.0)
            for va, vb in chains:
                d = np.minimum(d, edges.min_chord2_points_to_chain(sub, va, vb))
            out[mask] = np.where(inside, 0.0, d)
        return pd.Series(out)

    return polygon_chord2


def within_distance_of_polygons(
    spark,
    points: DataFrame,
    polygons: dict,
    radius_rad: float,
    point_id: str = "id",
    lat: str = "lat",
    lng: str = "lng",
) -> DataFrame:
    """(point_id, polygon_id, chord2) for points within radius of each
    polygon (inside counts as distance 0). The PIP join's candidate join
    (pip.candidate_join) over the buffered coverings, then the distance
    kernel only on covering candidates."""
    rows = expanded_covering_rows(polygons, radius_rad)
    # expanded coverings are normalized (non-overlapping), so each point
    # matches a polygon through at most one covering cell — no dedup needed
    cand = pip.candidate_join(
        spark,
        pip.leaf_points(points, point_id, lat, lng),
        rows,
        "polygon_id string, cell_id long",
    )
    threshold = float(sphere.chord2_from_angle(radius_rad))
    dist = make_polygon_distance_udf(polygons)
    return (
        cand.withColumn("chord2", dist(F.col("polygon_id"), F.col("lat"), F.col("lng")))
        .where(F.col("chord2") <= F.lit(threshold))
        .select("point_id", "polygon_id", "chord2")
    )
