"""Raster-tile operators: fixed-level tiling of points + tile<->vector joins.

A "tile" is a cell at a fixed level (the raster grid); tiling a point table
is one Arrow-batch kernel + pure-Column parent bit math. Tile<->vector
joins are F1 range joins at the tile level: the vector side's covering
cells get their tile-range via parent/range algebra, so the join is an
equi-join on the tile id (shuffle on tile key only) plus a residual range
check for coarse covering cells.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from ..functions import columns as cc
from ..functions import udfs


def tile_points(
    df: DataFrame, lat: str = "lat", lng: str = "lng", level: int = 12
) -> DataFrame:
    """Adds ``leaf`` (the leaf cell id, from the Arrow encoder; NULL where
    lat or lng is NULL) and ``tile`` (its ancestor at ``level``)."""
    leaf = udfs.cell_id_from_latlng_deg(F.col(lat), F.col(lng), 30)
    return df.withColumn("leaf", leaf).withColumn("tile", cc.parent("leaf", level))


def tile_top_categories(
    tiled: DataFrame, cat_col: str, k: int = 2, tile_col: str = "tile"
) -> DataFrame:
    """Per-tile heavy hitters: the top-k categories by count inside each
    tile, ties broken by category ascending. (tile, cat, n, rank).

    Scale shape: ONE wide shuffle keyed by (tile, cat) with map-side
    combine collapses the corpus to the category histogram; the rank
    window then shuffles only histogram rows (tiles x categories-present,
    never input rows) — and Catalyst coalesces even that: partitioning by
    (tile, cat) already clusters the window's tile key, so the plan is a
    single Exchange. Hot tiles are bounded by category cardinality, not
    row count.
    """
    hist = (
        tiled.groupBy(F.col(tile_col).alias("tile"), F.col(cat_col).alias("cat"))
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("tile").orderBy(F.desc("n"), F.asc("cat"))
    return (
        hist.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("tile", "cat", "n", "rank")
    )


def mercator_tile_cols(lat_deg, lng_deg, zoom: int):
    """Web-mercator XYZ tile (tx, ty) Columns for a zoom level — the
    raster-tile bridge (the Projection tier of S2EdgeTessellator /
    Projection.java: geodesic data joined against projected raster tiles).
    Standard slippy-map math: tx = floor((lng+180)/360 * 2^z),
    ty = floor((1 - asinh(tan(lat))/pi)/2 * 2^z), lat clamped to the
    mercator domain. Pure JVM Columns."""
    lat = F.col(lat_deg) if isinstance(lat_deg, str) else lat_deg
    lng = F.col(lng_deg) if isinstance(lng_deg, str) else lng_deg
    n = float(1 << zoom)
    lat_c = F.greatest(F.lit(-85.05112877980659), F.least(F.lit(85.05112877980659), lat))
    lat_r = F.radians(lat_c)
    tx = F.floor((lng + 180.0) / 360.0 * n).cast("long")
    ty = F.floor(
        (1.0 - F.log(F.tan(lat_r) + 1.0 / F.cos(lat_r)) / F.lit(float(np.pi))) / 2.0 * n
    ).cast("long")
    # the dateline edge (lng == 180) wraps into the last tile
    tx = F.least(tx, F.lit(int(n) - 1)).cast("long")
    return tx, ty


def raster_vector_join(points: DataFrame, zoom: int, lat: str = "lat",
                       lng: str = "lng", s2_level: int = 12) -> DataFrame:
    """raster<->vector bridge rows: each point keyed BOTH by its web-
    mercator XYZ tile (raster side) and its S2 cell (vector side), so
    raster tiles join geodesic coverings through a plain equi-join on
    either key. One pass, no shuffle."""
    tx, ty = mercator_tile_cols(lat, lng, zoom)
    out = tile_points(points, lat, lng, level=s2_level)
    return out.withColumns(
        {"tile_x": tx, "tile_y": ty, "zoom": F.lit(zoom).cast("int")}
    )
