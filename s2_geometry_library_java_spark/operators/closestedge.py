"""F5: closest-edge queries — nearest shape boundaries to each query point.

Semantics follow S2ClosestEdgeQuery (S2ClosestEdgeQuery.java:158 over
S2BestEdgesQueryBase): results ordered by S1ChordAngle length2, ties by
(shape_id, edge_id), here over the DataFrame shape index
(operators/shapes.shape_index_df) instead of a per-query priority queue.

The search is operators/ringsearch.search, the loop kNN shares. This module
supplies the edge-specific parts:

* the keyed index: index rows keyed by parent(cell_id, lvl), so the index
  must be built with min_level >= the search level;
* the score: the exact point-edge chord distance as PURE JVM Column
  arithmetic (edge_min_chord2_cols below — the same op order as the numpy
  A21 kernel kernel/edges.min_chord2_to_edges, so the two agree
  bit-for-bit), inside whole-stage codegen, no Python;
* its numpy score for ringsearch.local_topk: that kernel itself;
* routing from the index row count |I|, in this order: at most
  SMALL_INDEX_BRUTE_EDGES rows has no ring level (search's exact pass
  broadcasts the index); else local_topk while |queries| x |I| <=
  LOCAL_PAIRS_MAX; else, for furthest_edges only, the covering seed once
  |I| >= AUTO_COVERING_SEED_EDGES (queries far from the whole index go to
  covering_pruned_edges, not to empty rings); else the ring rounds.

Past the index count (and local_queries' bounded collect) each route is ONE
lazy plan: the caller's single action executes the complete search.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from . import ringsearch
from ..functions import columns as cc
from ..kernel import edges as ek
from ..kernel.cell import cells_distance_chord2, cells_max_distance_chord2
from ..kernel import sphere
from ..plans import cache

_EPS = float(np.finfo(np.float64).eps)

#: index edge count from which furthest_edges takes the max-distance
#: covering seed when the local pass declines (tests patch this): the seed's
#: bounds stage costs a few fixed jobs, which only pays off when the remnant
#: brute would otherwise be |queries| x |edges| over a large edge set.
AUTO_COVERING_SEED_EDGES = 50_000

#: index row count at or below which the search has no ring level and runs
#: ONE exact pass: every query against the broadcast edge set + one top-k
#: window (the DataFrame form of the reference's brute-force-under-
#: threshold routing, S2ClosestEdgeQuery maxBruteForceIndexSize), whatever
#: the query side's size. Exact by construction, like every route.
SMALL_INDEX_BRUTE_EDGES = 256


def edge_min_chord2_cols(px, py, pz, ax, ay, az, bx, by, bz) -> Column:
    """Min squared-chord distance from point P to edge AB as a Column
    expression — op-for-op the numpy kernel (kernel/edges.py
    min_chord2_to_edges, itself maybeUpdateMinInteriorDistance from
    S2EdgeUtil.java:2214-2302): planar acute-angle test, wedge sign test
    against C = (B+A) x (B-A), interior distance XQ^2 + QR^2, endpoint min
    otherwise. Stays inside whole-stage codegen."""
    xa2 = (px - ax) ** 2 + (py - ay) ** 2 + (pz - az) ** 2
    xb2 = (px - bx) ** 2 + (py - by) ** 2 + (pz - bz) ** 2
    ab2 = (ax - bx) ** 2 + (ay - by) ** 2 + (az - bz) ** 2
    endpoint = F.least(xa2, xb2)
    max_error = F.lit(4.75 * _EPS) * (xa2 + xb2 + ab2) + F.lit(8.0 * _EPS * _EPS)
    planar = F.abs(xa2 - xb2) < ab2 + max_error
    # c = (b+a) x (b-a) — the stable robustCrossProd form (2 * a x b)
    sx, sy, sz = bx + ax, by + ay, bz + az
    dx, dy, dz = bx - ax, by - ay, bz - az
    c0 = sy * dz - sz * dy
    c1 = sz * dx - sx * dz
    c2_ = sx * dy - sy * dx
    cnorm2 = c0 * c0 + c1 * c1 + c2_ * c2_
    xdc = px * c0 + py * c1 + pz * c2_
    # cx = c x p
    u0 = c1 * pz - c2_ * py
    u1 = c2_ * px - c0 * pz
    u2 = c0 * py - c1 * px
    wedge = (
        ((ax - px) * u0 + (ay - py) * u1 + (az - pz) * u2 < 0)
        & ((bx - px) * u0 + (by - py) * u1 + (bz - pz) * u2 > 0)
    )
    qr = F.lit(1.0) - F.sqrt((u0 * u0 + u1 * u1 + u2 * u2) / cnorm2)
    dint = (xdc * xdc) / cnorm2 + qr * qr
    interior = planar & wedge & (cnorm2 > 0)
    return F.least(
        F.when(interior, F.least(dint, endpoint)).otherwise(endpoint), F.lit(4.0)
    )


_IDS = ["shape_id", "edge_id"]
_ENDPOINTS = ["ax", "ay", "az", "bx", "by", "bz"]


def _edge_chord2() -> Column:
    """edge_min_chord2_cols from the query point (qx, qy, qz) to the edge."""
    return edge_min_chord2_cols(
        *(F.col(c) for c in ("qx", "qy", "qz", *_ENDPOINTS))
    )


def _edge_chord2_np(q: np.ndarray, items) -> np.ndarray:
    """min_chord2_to_edges, points ``q`` (Qc, 1, 3) x Arrow edge rows."""
    a, b = (np.stack([items[c].to_numpy() for c in e], axis=-1)
            for e in (_ENDPOINTS[:3], _ENDPOINTS[3:]))
    return ek.min_chord2_to_edges(q, a[None], b[None], ek.robust_cross_prod(a, b)[None])


def furthest_edges(
    index: DataFrame,
    queries: DataFrame,
    k: int = 1,
    level: int = 8,
    query_id: str = "query_id",
    lat: str = "lat",
    lng: str = "lng",
    interiors: DataFrame | None = None,
) -> DataFrame:
    """(query_id, rank, shape_id, edge_id, chord2) top-k FURTHEST indexed
    edges per query (S2FurthestEdgeQuery over S2BestEdgesQueryBase) via
    the antipode identity: the max angle from p to an edge is pi minus the
    min angle from -p, i.e. chord2_far = 4 - chord2_near(-p). The whole
    search therefore reuses the closest-edge routes on the negated query
    points — same ring pruning, same completeness proof — and only the
    output distance is transformed.

    ``interiors``: optional shapes table (shape_id, text) enabling
    Options.includeInteriors (S2BestEdgesQueryBase.java:399,410 — default
    TRUE in the reference; opt-in here by passing the geometry). A shape
    whose interior contains the ANTIPODE of the query point
    (S2FurthestEdgeQuery.java:369-381 visitBestDistanceContainingShapes
    over the antipodal connected-component point) contributes an interior
    result at the maximum distance: (shape_id, edge_id=-1, chord2=4.0);
    Result.isInterior() == edge_id < 0 (S2BestEdgesQueryBase.java:317,347).
    Because this wrapper already negates the query points, the interior
    merge tests containment of exactly those antipodes."""
    neg = queries.select(
        F.col(query_id).alias(query_id),
        (-F.col(lat)).alias("lat"),
        # antipode in lat/lng: negate latitude, rotate longitude by 180
        F.when(F.col(lng) > 0, F.col(lng) - 180.0)
        .otherwise(F.col(lng) + 180.0)
        .alias("lng"),
    )
    # Max-distance covering seed (S2FurthestEdgeQuery's covering
    # traversal): antipode points of queries near a CLUSTERED index are far
    # from every cell, so their rings always come up empty. When the local
    # pass declines a large edge set, the covering-pruned path replaces
    # those rounds (_closest_edges_impl's route order).
    near = _closest_edges_impl(index, neg, k, level, query_id, "lat", "lng", furthest=True)
    if interiors is not None:
        near = _with_interiors(near, neg, interiors, k, query_id, "lat", "lng")
    return near.select(
        "query_id",
        "rank",
        "shape_id",
        "edge_id",
        (F.lit(4.0) - F.col("chord2")).alias("chord2"),
    )


def closest_edges(
    index: DataFrame,
    queries: DataFrame,
    k: int = 1,
    level: int = 8,
    query_id: str = "query_id",
    lat: str = "lat",
    lng: str = "lng",
    interiors: DataFrame | None = None,
) -> DataFrame:
    """Top-k nearest indexed edges per query (S2ClosestEdgeQuery).

    ``interiors``: optional shapes table (shape_id, text) enabling
    Options.includeInteriors (S2BestEdgesQueryBase.java:399,410 — the
    reference DEFAULT; opt-in here because the DataFrame index carries
    edges only, not parseable geometry). Each shape whose interior
    contains the query point (S2ClosestEdgeQuery.java:479-484
    visitBestDistanceContainingShapes over S2ContainsPointQuery)
    contributes a Result at distance zero with edge_id = -1;
    Result.isInterior() == edge_id < 0 (S2BestEdgesQueryBase.java:317,347).
    Interior rows merge into the same top-k ranking — ordering by
    (distance, shape_id, edge_id) matches the reference Result order, so
    a containing shape's interior result outranks its boundary edges.
    Scale shape: the containment test is the indexed PIP broadcast hash
    join (operators/shapes.pip_join_indexed) — no per-query work beyond
    the one extra union + re-rank."""
    res = _closest_edges_impl(index, queries, k, level, query_id, lat, lng)
    if interiors is not None:
        res = _with_interiors(res, queries, interiors, k, query_id, lat, lng)
    return res


def _with_interiors(res: DataFrame, queries: DataFrame, interiors: DataFrame,
                    k: int, query_id: str, lat: str, lng: str) -> DataFrame:
    """``res`` re-ranked with a (shape_id, edge_id=-1, chord2=0.0) row per
    ``interiors`` shape containing the query point."""
    from . import shapes as shape_ops

    contained = shape_ops.pip_join_indexed(
        queries.sparkSession, queries, interiors,
        point_id=query_id, lat=lat, lng=lng,
    )
    interior_rows = contained.select(
        F.col("point_id").alias("query_id"),
        F.col("polygon_id").alias("shape_id"),
        F.lit(-1).cast("int").alias("edge_id"),
        F.lit(0.0).alias("chord2"),
    )
    # Re-rank the union: the per-query top-k plus interior zeros — sound
    # because every edge row dropped from ``res`` ranked below k edge rows
    # that ARE present, and interior rows only push rankings down further.
    return ringsearch.topk(
        res.select("query_id", *_IDS, "chord2").unionByName(interior_rows),
        k, _IDS,
    ).select("query_id", "rank", *_IDS, "chord2")


def _closest_edges_impl(
    index: DataFrame,
    queries: DataFrame,
    k: int = 1,
    level: int = 8,
    query_id: str = "query_id",
    lat: str = "lat",
    lng: str = "lng",
    furthest: bool = False,
) -> DataFrame:
    """(query_id, rank, shape_id, edge_id, chord2) top-k nearest indexed
    edges per query. ``index`` is shape_index_df output built with
    min_level >= ``level`` so parent(cell_id, level) is a valid key.
    ``furthest``: the caller is furthest_edges, whose routes include the
    covering seed (module docstring).

    Off the local and tiny-index routes the index is held (plans/cache.py):
    its mapInPandas build then runs once for every ring round, the covering
    seed and the exact pass. The caller's ``cache.scope()`` releases it.
    """
    n_edges = index.count()  # every routing decision wants it
    # a tiny index has no ring level: search's exact pass broadcasts it
    small = n_edges <= SMALL_INDEX_BRUTE_EDGES
    local = ringsearch.local_queries(queries, query_id, lat, lng, n_edges, not small)
    if local is not None:
        return ringsearch.local_topk(
            index.select(*_IDS, *_ENDPOINTS), local, k, _IDS, _edge_chord2_np
        )
    if not small:
        index = cache.hold(index)
    qpts = ringsearch.points(queries, query_id, "query_id", lat, lng, "q")
    far = None
    if furthest and not small and n_edges >= AUTO_COVERING_SEED_EDGES:
        # Route queries whose 3x3 ring at the seed level certainly holds
        # no index cell (min distance to the whole covering exceeds the
        # ring's reach) to the covering-pruned path — their ring rounds
        # would all come up empty (the clustered-index / antipode regime of
        # S2FurthestEdgeQuery). Its unproven queries rejoin the ring search.
        cover = index.select(
            cc.parent("cell_id", level).alias("ccell")
        ).distinct()
        ring_reach = float(
            sphere.chord2_from_angle(
                3.0 * sphere.metric_value(sphere.MAX_ANGLE_SPAN_DERIV, level)
            )
        )
        far_ids = (
            qpts.crossJoin(F.broadcast(cover))
            .select("query_id", _cell_min_chord2("ccell", "qx", "qy", "qz").alias("minb"))
            .groupBy("query_id")
            .agg(F.min("minb").alias("minb_min"))
            .where(F.col("minb_min") > F.lit(ring_reach))
            .select("query_id")
        )
        far, violators = covering_pruned_edges(
            index, qpts.join(far_ids, "query_id"), k, level
        )
        qpts = qpts.join(far_ids, "query_id", "left_anti").unionByName(violators)
    res = ringsearch.search(
        qpts.withColumn("lvl", F.lit(level)), k, _IDS, _edge_chord2(),
        items=index.dropDuplicates(_IDS).select(*_IDS, *_ENDPOINTS),
        # an edge indexed in several cells under one parent repeats here;
        # the top-k folds the repeated candidates
        keyed=lambda levels: index.crossJoin(levels).select(
            *_IDS, *_ENDPOINTS, "lvl",
            cc.parent("cell_id", F.col("lvl")).alias("cell"),
        ),
        seed_levels=set() if small else {level},
    )
    return res if far is None else far.select(res.columns).unionByName(res)


# ---------------------------------------------------------------------------
# Max-distance covering seed (S2FurthestEdgeQuery over S2BestEdgesQueryBase
# max-distance targets): queries far from the whole index skip the ring
# rounds — their rings can never contain an index cell — and instead prune
# through the index's covering with exact cell chord bounds.
# ---------------------------------------------------------------------------

def _cell_pts(px: pd.Series, py: pd.Series, pz: pd.Series) -> np.ndarray:
    return np.stack([c.to_numpy(np.float64) for c in (px, py, pz)], axis=1)


@pandas_udf(DoubleType())
def _cell_min_chord2(cell_id: pd.Series, px: pd.Series, py: pd.Series,
                     pz: pd.Series) -> pd.Series:
    """Exact min chord2 from each point to its row's cell (kernel/cell.py)."""
    return pd.Series(cells_distance_chord2(cell_id.to_numpy(np.int64),
                                           _cell_pts(px, py, pz)))


@pandas_udf(DoubleType())
def _cell_max_chord2(cell_id: pd.Series, px: pd.Series, py: pd.Series,
                     pz: pd.Series) -> pd.Series:
    """Exact max chord2 from each point to its row's cell (kernel/cell.py)."""
    return pd.Series(cells_max_distance_chord2(cell_id.to_numpy(np.int64),
                                               _cell_pts(px, py, pz)))


def covering_pruned_edges(
    index: DataFrame,
    far_queries: DataFrame,
    k: int,
    cover_level: int,
) -> tuple[DataFrame, DataFrame]:
    """(done, violators) for queries FAR from the index, pruned by the
    index covering instead of ring joins: per (query, covering cell) exact
    min/max chord bounds (A19, kernel/cell.py) give a threshold T = min
    over cells of max_chord2 — the best covering cell certainly contains an
    edge no farther than T — so only cells with min_chord2 <= T contribute
    candidates. A query is done when it has k results and its k-th distance
    is below every excluded cell's lower bound; the violators (possible
    when k exceeds the best cells' edge count) go back to the caller's
    exact search. This is the antipode form of the reference's max-distance
    covering seed (S2FurthestEdgeQuery visits index cells ordered by
    distance bound, not by location)."""
    cover = index.select(
        cc.parent("cell_id", cover_level).alias("ccell")
    ).distinct()
    # held: the threshold, the excluded-cell bound and the candidates all
    # read the per-cell bounds, two pandas UDF passes over query x cover
    bounds = cache.hold(
        far_queries.select("query_id", "qx", "qy", "qz")
        .crossJoin(F.broadcast(cover))
        .select(
            "query_id", "qx", "qy", "qz", "ccell",
            _cell_min_chord2("ccell", "qx", "qy", "qz").alias("minb"),
            _cell_max_chord2("ccell", "qx", "qy", "qz").alias("maxb"),
        )
    )
    thr = bounds.groupBy("query_id").agg(F.min("maxb").alias("thr"))
    bounds = bounds.join(thr, "query_id")
    excluded_min = (
        bounds.where(F.col("minb") > F.col("thr"))
        .groupBy("query_id")
        .agg(F.min("minb").alias("exc_min"))
    )
    idx_cells = index.select(
        *_IDS, *_ENDPOINTS, cc.parent("cell_id", cover_level).alias("ccell"),
    ).dropDuplicates([*_IDS, "ccell"])
    cand = (
        bounds.where(F.col("minb") <= F.col("thr"))
        .join(excluded_min, "query_id", "left")
        .join(idx_cells, "ccell")
        .select(
            "query_id", *_IDS, _edge_chord2().alias("chord2"),
            F.coalesce("exc_min", F.lit(float("inf"))).alias("bound"),
        )
    )
    return ringsearch.split(cand, far_queries, k, _IDS)
