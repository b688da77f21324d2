"""Spatial kNN: closest index points to each query point.

Semantics follow S2ClosestPointQuery (S2ClosestPointQuery.java:311-355):
results ordered by S1ChordAngle ``length2``, ties by neighbor id.

Two entry points, chosen like the reference chooses brute force under 150
points (S2ClosestPointQuery.java:75):

* ``knn_bruteforce`` — the queries shipped to ringsearch.local_topk, one
  partition-local exact pass over the raw index rows; right when |queries|
  is small.

* ``knn_cell_join`` — one of ringsearch's routes, from the index size |I|
  (its count, or the density histogram's weight sum): no ring level (a
  tiny index) runs search's exact pass with the index broadcast;
  |queries| x |I| <= ringsearch.LOCAL_PAIRS_MAX runs local_topk; otherwise
  ring rounds over the index points keyed by parent(leaf, lvl).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, functions as F

from . import ringsearch
from ..kernel import cellid as s2


def _chord2() -> F.Column:
    dx = F.col("qx") - F.col("ix")
    dy = F.col("qy") - F.col("iy")
    dz = F.col("qz") - F.col("iz")
    return F.least(dx * dx + dy * dy + dz * dz, F.lit(4.0))


def _chord2_np(q: np.ndarray, items) -> np.ndarray:
    """_chord2 in numpy, op for op: points ``q`` (Qc, 1, 3) to an Arrow
    block of raw (lat, lng) degree rows -> (Qc, Bc)."""
    p = s2.latlng_to_xyz(*(np.radians(items[c].to_numpy()) for c in ("lat", "lng")))
    dx, dy, dz = (q[..., i] - p[i] for i in range(3))
    return np.minimum(dx * dx + dy * dy + dz * dz, 4.0)


def _local(index: DataFrame, queries, k: int, index_id: str, lat: str,
           lng: str) -> DataFrame:
    """ringsearch.local_topk over the raw (id, lat, lng) index rows."""
    items = index.select(
        F.col(index_id).alias("neighbor_id"),
        F.col(lat).cast("double").alias("lat"),
        F.col(lng).cast("double").alias("lng"),
    )
    return ringsearch.local_topk(items, queries, k, ["neighbor_id"], _chord2_np)


def knn_bruteforce(
    index: DataFrame,
    queries: DataFrame,
    k: int,
    index_id: str = "id",
    query_id: str = "query_id",
    lat: str = "lat",
    lng: str = "lng",
) -> DataFrame:
    """(query_id, rank, neighbor_id, chord2) exact k nearest."""
    q = ringsearch.query_rows(queries, query_id, lat, lng).toArrow()
    return _local(index, q, k, index_id, lat, lng)


def choose_level(n_index: int, k: int) -> int:
    """Largest level whose 3x3 ring is expected to hold >= max(32, 8k)
    points under a uniform prior — the DataFrame analogue of the
    reference's per-query seed-level heuristic (S2ClosestPointQuery
    initQueue). A density histogram (knn_cell_join's ``density_hist``)
    refines this per region when the data is skewed."""
    target = max(32, 8 * k)
    ratio = 1.5 * n_index / target
    if ratio <= 1:
        return 0
    return max(0, min(30, int(math.log(ratio, 4))))


def knn_cell_join(
    index: DataFrame,
    queries: DataFrame,
    k: int,
    index_id: str = "id",
    query_id: str = "query_id",
    lat: str = "lat",
    lng: str = "lng",
    density_hist: list[tuple[int, int]] | None = None,
    hist_level: int | None = None,
) -> DataFrame:
    """Scale-path kNN: ringsearch.search over the index points.

    Each query carries a seed level ``lvl``; the index is keyed by
    ``parent(leaf, lvl)`` per probed level (the distinct-level set is
    tiny). A query finishes when its k-th chord2 is below the ring's
    MIN_WIDTH bound, mirroring the reference's shrinking maxDistanceLimit
    (S2ClosestPointQuery.java:121-136).

    Seed levels: a ``density_hist`` from plans/density.density_histogram
    at ``hist_level`` gives per-query local-density levels (the skewed-data
    path, so dense metros probe deep and sparse regions probe coarse in the
    SAME round); else the index count under a uniform prior. The route
    (module docstring) follows from the seed levels and |queries| x |I|.
    """
    from ..functions import columns as cc
    from ..localdf import local_df

    qs = ringsearch.points(queries, query_id, "query_id", lat, lng, "q")
    target = max(32, 8 * k)
    if density_hist is not None:
        if hist_level is None:
            raise ValueError("density_hist requires hist_level")
        # each histogram cell's seed level, once, on the driver: the
        # deepest level whose 3x3 ring still expects >= target points at
        # that cell's density; queries in no histogram cell seed at 0
        levels = [
            (int(np.int64(np.uint64(c))), max(0, min(30, hist_level + math.floor(
                math.log(9.0 * w / (1.5 * target), 4.0)))))
            for c, w in density_hist if w > 0
        ]
        qs = (
            qs.withColumn("hcell", cc.parent("qleaf", hist_level))
            .join(F.broadcast(local_df(index.sparkSession, levels, "hcell long, lvl int")),
                  "hcell", "left")
            .withColumn("lvl", F.coalesce("lvl", F.lit(0)))
            .drop("hcell")
        )
        seed_levels = {0} | {lvl for _, lvl in levels}
        n_index = sum(int(w) for _, w in density_hist)
    else:
        # Counted on the RAW input: Catalyst prunes the count to a plain
        # scan, with no Arrow pass
        n_index = index.count()
        lvl0 = choose_level(n_index, k)
        qs = qs.withColumn("lvl", F.lit(lvl0))
        seed_levels = {lvl0}
    rings = max(seed_levels) > 0
    local = ringsearch.local_queries(queries, query_id, lat, lng, n_index, rings)
    if local is not None:
        return _local(index, local, k, index_id, lat, lng)
    # not held: a cold A/B (100k points x 2,000 queries) found the rounds'
    # re-run of this Arrow pass no slower than caching it
    idx = ringsearch.points(index, index_id, "neighbor_id", lat, lng, "i")
    return ringsearch.search(
        qs, k, ["neighbor_id"], _chord2(),
        items=idx.select("neighbor_id", "ix", "iy", "iz"),
        keyed=lambda levels: idx.crossJoin(levels).withColumn(
            "cell", cc.parent("ileaf", F.col("lvl"))
        ),
        seed_levels=seed_levels,
    )
