"""Executor-side shape prep: coverings and shape-index build as DataFrame
transforms over a polygon TABLE (no driver-side coverer loop).

This is the scale path SURVEY §2.D/§2.E planned: with 10^4-10^6 polygons
the per-shape work (coverer priority queue, edge clipping) runs inside
mapInPandas over the shapes table. pip_join_indexed collects the covering
rows and the shape texts in one pass and hands them, with the parsed
polygons, to operators/pip's candidate join and exact filter.

Shapes are rows (shape_id string, text string) in the S2TextFormat polygon
grammar ('lat:lng, ...; ...' — S2TextFormat.java:484-495), the engine's
only string geometry format.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..kernel import cellid as s2
from . import pip


@lru_cache(maxsize=4096)
def _parse_polygon(text: str):
    from ..kernel import region as rg

    return rg.Polygon.from_text(text)


_COVERING_SCHEMA = "shape_id string, cell_id long, is_interior boolean"


def coverings_df(shapes: DataFrame, max_cells: int = pip.MAX_CELLS,
                 id_col: str = "shape_id", text_col: str = "text",
                 min_level: int = 0, max_level: int = 30,
                 level_mod: int = 1) -> DataFrame:
    """(shape_id, cell_id, is_interior) covering rows, computed on the
    executors — one coverer run per polygon row (D1 + interior flags).
    min_level/max_level/level_mod pass through to the coverer (cells come
    out denormalized to those valid levels — the term-indexer contract)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernel import coverer as cov

        coverer = cov.RegionCoverer(
            max_cells=max_cells, min_level=min_level, max_level=max_level,
            level_mod=level_mod,
        )
        for pdf in batches:
            rows = [
                (sid, cid, interior)
                for sid, text in zip(pdf[id_col], pdf[text_col])
                for cid, interior in pip.covering_cells(coverer, _parse_polygon(text))
            ]
            yield pd.DataFrame(rows, columns=["shape_id", "cell_id", "is_interior"])

    return shapes.select(F.col(id_col).alias(id_col), F.col(text_col)).mapInPandas(
        gen, _COVERING_SCHEMA
    )


_INDEX_SCHEMA = (
    "shape_id string, cell_id long, edge_id int, chain_id int, "
    "ax double, ay double, az double, bx double, by double, bz double"
)


def shape_index_df(shapes: DataFrame, min_level: int = 0,
                   id_col: str = "shape_id", text_col: str = "text") -> DataFrame:
    """E2 build: (shape_id, cell_id, edge_id, edge endpoints) rows — the
    DataFrame form of S2ShapeIndex (an index IS a sorted table). Sort or
    bucket by biased cell id downstream for range-scan joins."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernel import shapeindex as si

        for pdf in batches:
            rows = {k: [] for k in ("shape_id", "cell_id", "edge_id", "chain_id",
                                    "ax", "ay", "az", "bx", "by", "bz")}
            for sid, text in zip(pdf[id_col], pdf[text_col]):
                poly = _parse_polygon(text)
                loops = [lp.vertices for lp in poly.loops]
                va = np.concatenate(loops, axis=0)
                vb = np.concatenate([np.roll(lp, -1, axis=0) for lp in loops], axis=0)
                # chain id per global edge id (loops are concatenated)
                chain_of = np.repeat(
                    np.arange(len(loops)), [len(lp) for lp in loops]
                )
                for cid, edge_ids in si.build_shape_index(loops, min_level=min_level):
                    for e in edge_ids:
                        rows["shape_id"].append(sid)
                        rows["cell_id"].append(int(s2.to_signed(np.uint64(cid))[0]))
                        rows["edge_id"].append(int(e))
                        rows["chain_id"].append(int(chain_of[e]))
                        rows["ax"].append(float(va[e, 0]))
                        rows["ay"].append(float(va[e, 1]))
                        rows["az"].append(float(va[e, 2]))
                        rows["bx"].append(float(vb[e, 0]))
                        rows["by"].append(float(vb[e, 1]))
                        rows["bz"].append(float(vb[e, 2]))
            yield pd.DataFrame(rows)

    return shapes.select(F.col(id_col), F.col(text_col)).mapInPandas(gen, _INDEX_SCHEMA)


def pip_join_indexed(
    spark,
    points: DataFrame,
    shapes: DataFrame,
    point_id: str = "id",
    lat: str = "lat",
    lng: str = "lng",
    leaf_col: str | None = None,
) -> DataFrame:
    """(point_id, polygon_id) PIP join with EXECUTOR-side coverings.

    Same plan as pip.pip_join (one ancestor-level broadcast hash join,
    then the one exact filter with interior fast-accept), but the coverer
    runs on the executors over the shapes table, as in coverings_df. One
    pass over the shapes and one collect bring back its rows (<= MAX_CELLS per
    shape), re-shipped as the local broadcast side, and each shape's text,
    parsed into the exact filter's closure: no geometry column rides on
    the candidate rows. A shape with an empty covering has no candidates,
    so the filter never needs its polygon.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernel import coverer as cov

        coverer = cov.RegionCoverer(max_cells=pip.MAX_CELLS)
        for pdf in batches:
            # the text rides on each shape's first covering row only
            rows = [
                (sid, cid, interior, None if k else text)
                for sid, text in zip(pdf["shape_id"], pdf["text"])
                for k, (cid, interior) in enumerate(
                    pip.covering_cells(coverer, _parse_polygon(text))
                )
            ]
            yield pd.DataFrame(rows, columns=["shape_id", "cell_id", "is_interior", "text"])

    collected = shapes.select("shape_id", "text").mapInPandas(
        gen, _COVERING_SCHEMA + ", text string"
    ).collect()
    rows = [(sid, cid, interior) for sid, cid, interior, _ in collected]
    polygons = {
        sid: _parse_polygon(text) for sid, _, _, text in collected if text is not None
    }
    cand = pip.candidate_join(
        spark, pip.leaf_points(points, point_id, lat, lng, leaf_col), rows
    )
    return pip.exact_filter(cand, polygons).select("point_id", "polygon_id")
