"""F6/F7/F8: crossing-edge pairs, directed Hausdorff, chain interpolation.

All three run as pure JVM Column arithmetic over edge tables (no Python in
any hot path):

* ``crossing_edge_pairs`` — S2CrossingEdgesQuery semantics: all (edgeA,
  edgeB) pairs between two shape indexes that properly cross. Candidates
  come from the shape-index cell equi-join (both indexes built with the
  same min_level); the exact test is the four-determinant minor-arc
  crossing condition in Columns (triage tier — adversarial exactly-
  degenerate data escalates via the kernel path, documented).
* ``directed_hausdorff`` — S2HausdorffDistanceQuery (directed, point-set →
  shape boundary): max over points of min edge distance, as two
  aggregations over the edge-distance Column.
* ``chain_interpolate`` — S2ChainInterpolationQuery: point at fraction t
  of a vertex chain's total length via window cumulative edge lengths and
  the getPointOnLine rotation, entirely in Columns.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions import udfs
from .closestedge import edge_min_chord2_cols
from ..localdf import local_df


def _det(px, py, pz, qx, qy, qz, rx, ry, rz) -> Column:
    return (
        px * (qy * rz - qz * ry) + py * (qz * rx - qx * rz) + pz * (qx * ry - qy * rx)
    )


def edges_cross_cols(ax, ay, az, bx, by, bz, cx, cy, cz, dx, dy, dz) -> Column:
    """Proper minor-arc crossing of edges AB, CD (robustCrossing > 0,
    S2EdgeUtil.java:1806-1849): the four orientation signs agree and are
    nonzero. Triage tier: double-precision signs, matching the SQL oracle;
    rows flagged by edges_cross_uncertain_cols escalate to the exact
    kernel cascade in crossing_edge_pairs."""
    acb = F.signum(_det(ax, ay, az, cx, cy, cz, bx, by, bz))
    bda = F.signum(_det(bx, by, bz, dx, dy, dz, ax, ay, az))
    cbd = F.signum(_det(cx, cy, cz, bx, by, bz, dx, dy, dz))
    dac = F.signum(_det(dx, dy, dz, ax, ay, az, cx, cy, cz))
    return (acb == bda) & (acb == cbd) & (acb == dac) & (acb != 0)


def edges_cross_uncertain_cols(
    ax, ay, az, bx, by, bz, cx, cy, cz, dx, dy, dz
) -> Column:
    """True when any of the four orientation determinants falls within the
    triage error bound for unit-vector triples (S2Predicates.java:116-194,
    1.8274*eps) — i.e. the double-precision sign is NOT certified and the
    row must go through the kernel's stable/exact cascade."""
    from ..kernel.predicates import TRIAGE_ERROR

    bound = F.lit(TRIAGE_ERROR)
    return (
        (F.abs(_det(ax, ay, az, cx, cy, cz, bx, by, bz)) <= bound)
        | (F.abs(_det(bx, by, bz, dx, dy, dz, ax, ay, az)) <= bound)
        | (F.abs(_det(cx, cy, cz, bx, by, bz, dx, dy, dz)) <= bound)
        | (F.abs(_det(dx, dy, dz, ax, ay, az, cx, cy, cz)) <= bound)
    )


def _edges_cross_exact_udf():
    """Pandas UDF: robust proper-crossing verdict through the kernel's full
    triage -> stable -> exact(+SoS) cascade (vectorized; exact arithmetic
    touches only the genuinely degenerate residue). Shared or duplicate
    vertices yield sign 0 -> not a PROPER crossing, matching
    robustCrossing > 0."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BooleanType

    @pandas_udf(BooleanType())
    def exact_cross(
        ax: pd.Series, ay: pd.Series, az: pd.Series,
        bx: pd.Series, by: pd.Series, bz: pd.Series,
        cx: pd.Series, cy: pd.Series, cz: pd.Series,
        dx: pd.Series, dy: pd.Series, dz: pd.Series,
    ) -> pd.Series:
        from ..kernel import predicates

        cols = (ax, ay, az, bx, by, bz, cx, cy, cz, dx, dy, dz)
        a, b, c, d = (
            np.stack([cols[k].to_numpy(np.float64) for k in range(i, i + 3)], axis=1)
            for i in (0, 3, 6, 9)
        )
        acb = predicates.sign_batch(a, c, b)
        bda = predicates.sign_batch(b, d, a)
        cbd = predicates.sign_batch(c, b, d)
        dac = predicates.sign_batch(d, a, c)
        cross = (acb == bda) & (acb == cbd) & (acb == dac) & (acb != 0)
        return pd.Series(cross)

    return exact_cross


def shared_vertex_cols() -> Column:
    """True when edges AB and CD share at least one vertex, by EXACT
    coordinate equality. robustCrossing returns 0 exactly for these pairs
    (S2EdgeUtil.java:1782-1784: "Returns 0 if any two vertices from
    different edges are the same" — the SoS perturbation model makes
    shared vertices the ONLY zero case). Both sides of every join in this
    module derive xyz through the same latlng->xyz kernel, so identical
    input vertices are bit-identical doubles and the equality is exact."""
    same = lambda p, q: (  # noqa: E731
        (F.col(p + "x") == F.col(q + "x"))
        & (F.col(p + "y") == F.col(q + "y"))
        & (F.col(p + "z") == F.col(q + "z"))
    )
    return same("a", "c") | same("a", "d") | same("b", "c") | same("b", "d")


def _crossing_tiers(cand: DataFrame, keys: tuple, crossing_type: str) -> DataFrame:
    """The crossing rows of a candidate frame of edge pairs AB x CD
    (columns ax..bz, cx..dz), as its ``keys`` columns, plus ``is_interior``
    when ``crossing_type`` is "all"."""
    args = [
        F.col(n)
        for n in ("ax", "ay", "az", "bx", "by", "bz",
                  "cx", "cy", "cz", "dx", "dy", "dz")
    ]
    shared = shared_vertex_cols()
    uncertain = ~shared & edges_cross_uncertain_cols(*args)
    # JVM triage tier decides every certified row inside whole-stage
    # codegen; the (expected ~0) rows whose determinants fall inside the
    # triage bound escalate to the kernel's exact cascade. The split is a
    # filter pair over the same candidate subtree — the escalation branch
    # scans it again but processes only the degenerate residue.
    # Shared-vertex pairs never enter either sign tier (robustCrossing
    # returns 0 for them before any determinant is evaluated).
    sure = cand.where(~shared & ~uncertain).where(edges_cross_cols(*args))
    escalated = cand.where(uncertain).where(_edges_cross_exact_udf()(*args))
    if crossing_type == "all":
        touching = cand.where(shared).withColumn("is_interior", F.lit(False))
        return (
            sure.withColumn("is_interior", F.lit(True))
            .unionByName(escalated.withColumn("is_interior", F.lit(True)))
            .unionByName(touching)
            .select(*keys, "is_interior")
        )
    return sure.unionByName(escalated).select(*keys)


def crossing_edge_pairs(
    index_a: DataFrame,
    index_b: DataFrame,
    level: int = 8,
    crossing_type: str = "interior",
) -> DataFrame:
    """(a_shape, a_edge, b_shape, b_edge) for every crossing edge pair
    between two shape indexes (F6). Candidates = edges indexed into the
    same level-`level` cell; crossing edges always share an index cell at
    any level that covers the crossing point, and both indexes cover their
    edges' full extent, so the equi-join misses nothing.

    ``crossing_type`` mirrors S2CrossingEdgesQuery.CrossingType
    (S2CrossingEdgesQuery.java:236-247): "interior" reports pairs whose
    robustCrossing sign is +1 (crossing at a point interior to both
    edges); "all" additionally reports pairs that intersect only because
    they share a vertex (robustCrossing == 0, which under the SoS
    perturbation model happens ONLY for shared vertices —
    S2EdgeUtil.java:1782-1795) and carries the visitor's ``is_interior``
    flag as an output column (S2CrossingEdgesQuery.java:272-276).
    Shared-vertex pairs are decided by exact coordinate equality BEFORE
    the sign tier, matching the reference's precedence; adjacent pairs are
    always reported (needAdjacent=true, the CrossingType.ALL default,
    S2CrossingEdgesQuery.java:79)."""
    from ..functions import columns as cc

    if crossing_type not in ("interior", "all"):
        raise ValueError(f"crossing_type must be interior|all: {crossing_type}")
    a = index_a.select(
        F.col("shape_id").alias("a_shape"),
        F.col("edge_id").alias("a_edge"),
        F.col("ax"), F.col("ay"), F.col("az"),
        F.col("bx"), F.col("by"), F.col("bz"),
        cc.parent("cell_id", level).alias("cell_key"),
    ).dropDuplicates(["a_shape", "a_edge", "cell_key"])
    b = index_b.select(
        F.col("shape_id").alias("b_shape"),
        F.col("edge_id").alias("b_edge"),
        F.col("ax").alias("cx"), F.col("ay").alias("cy"), F.col("az").alias("cz"),
        F.col("bx").alias("dx"), F.col("by").alias("dy"), F.col("bz").alias("dz"),
        cc.parent("cell_id", level).alias("cell_key"),
    ).dropDuplicates(["b_shape", "b_edge", "cell_key"])
    cand = a.join(b, "cell_key").dropDuplicates(
        ["a_shape", "a_edge", "b_shape", "b_edge"]
    )
    return _crossing_tiers(
        cand, ("a_shape", "a_edge", "b_shape", "b_edge"), crossing_type
    )


def directed_hausdorff_brute(
    points: DataFrame,
    edges: DataFrame,
    point_id: str = "id",
    lat: str = "lat",
    lng: str = "lng",
) -> DataFrame:
    """Reference form of F7: every point against every edge. Kept as the
    equivalence oracle for the pruned plan below; use only when the edge
    set is tiny."""
    p = udfs.latlng_deg_to_xyz(F.col(lat), F.col(lng))
    pts = (
        points.withColumn("_p", p)
        .select(
            F.col(point_id).alias("point_id"),
            F.col("_p.x").alias("px"),
            F.col("_p.y").alias("py"),
            F.col("_p.z").alias("pz"),
        )
    )
    e = F.broadcast(
        edges.dropDuplicates(["shape_id", "edge_id"]).select(
            "shape_id", "edge_id", "ax", "ay", "az", "bx", "by", "bz"
        )
    )
    d = pts.crossJoin(e).select(
        "point_id",
        "shape_id",
        edge_min_chord2_cols(
            F.col("px"), F.col("py"), F.col("pz"),
            F.col("ax"), F.col("ay"), F.col("az"),
            F.col("bx"), F.col("by"), F.col("bz"),
        ).alias("chord2"),
    )
    per_point = d.groupBy("shape_id", "point_id").agg(F.min("chord2").alias("dmin"))
    w = Window.partitionBy("shape_id").orderBy(F.desc("dmin"), F.asc("point_id"))
    return (
        per_point.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("shape_id", F.col("point_id").alias("worst_point_id"), F.col("dmin").alias("chord2"))
    )


def directed_hausdorff(
    points: DataFrame,
    edges: DataFrame,
    point_id: str = "id",
    lat: str = "lat",
    lng: str = "lng",
) -> DataFrame:
    """(shape_id, worst_point_id, chord2): directed discrete Hausdorff
    witness from the point set to each shape's boundary (F7), PRUNED — the
    DataFrame form of S2HausdorffDistanceQuery over S2BestEdgesQueryBase's
    shrinking search bound:

    1. bound pass: every point joins only a 1/8 sample of boundary
       vertices. u(p) = min sampled-vertex angle is an UPPER
       bound on d(p, boundary); u(p) - gap_s is a LOWER bound, where
       gap_s = 2x the longest sampled run's arc length bounds how far any
       boundary point can be from its nearest sample along its own loop
       (sampling is chain-aware: every loop's first edge is sampled and
       runs never straddle loop boundaries, so the bound holds for any
       loop size).
    2. prune: the witness must satisfy u(p) >= max_q u(q) - gap_s —
       everything else is provably not the farthest point and never
       touches the full edge set.
    3. exact pass: surviving candidates (a thin band near the max) get
       the exact min edge chord2 over ALL the shape's edges; per-shape
       argmax is the witness, bit-identical to the brute answer.

    The big point table is scanned once, joins a broadcast vertex sample,
    and never shuffles; the full edge set is only read against the tiny
    candidate band."""
    step = 8  # loop edges per sampled vertex
    e_all = edges.dropDuplicates(["shape_id", "edge_id"])
    # shape_index_df emits a chain_id per loop; a table without one is
    # treated as one chain
    if "chain_id" not in e_all.columns:
        e_all = e_all.withColumn("chain_id", F.lit(0))
    wch = Window.partitionBy("shape_id", "chain_id")
    e_all = e_all.withColumn("_rel", F.col("edge_id") - F.min("edge_id").over(wch))
    p = udfs.latlng_deg_to_xyz(F.col(lat), F.col(lng))
    pts = points.withColumn("_p", p).select(
        F.col(point_id).alias("point_id"),
        F.col("_p.x").alias("px"),
        F.col("_p.y").alias("py"),
        F.col("_p.z").alias("pz"),
    )
    elen = F.lit(2.0) * F.asin(
        F.lit(0.5)
        * F.sqrt(
            (F.col("ax") - F.col("bx")) ** 2
            + (F.col("ay") - F.col("by")) ** 2
            + (F.col("az") - F.col("bz")) ** 2
        )
    )
    runs = (
        e_all.select(
            "shape_id",
            "chain_id",
            (F.col("_rel") / step).cast("long").alias("run"),
            elen.alias("elen"),
        )
        .groupBy("shape_id", "chain_id", "run")
        .agg(F.sum("elen").alias("run_len"))
        .groupBy("shape_id")
        .agg((F.max("run_len") * 2).alias("gap"))
    )
    samples = F.broadcast(
        e_all.where(F.col("_rel") % step == 0).select(
            "shape_id", "ax", "ay", "az"
        )
    )
    vchord2 = (
        (F.col("px") - F.col("ax")) ** 2
        + (F.col("py") - F.col("ay")) ** 2
        + (F.col("pz") - F.col("az")) ** 2
    )
    ub = (
        pts.crossJoin(samples)
        .groupBy("shape_id", "point_id")
        .agg(F.min(vchord2).alias("u2"))
        .withColumn("u_ang", F.lit(2.0) * F.asin(F.lit(0.5) * F.sqrt(F.col("u2"))))
    )
    wmax = Window.partitionBy("shape_id")
    cand = (
        ub.join(F.broadcast(runs), "shape_id")
        .withColumn("u_max", F.max("u_ang").over(wmax))
        .where(F.col("u_ang") >= F.col("u_max") - F.col("gap"))
        .select("shape_id", "point_id")
    )
    cpts = F.broadcast(cand.join(pts, "point_id"))
    exact = cpts.join(e_all, "shape_id").select(
        "shape_id",
        "point_id",
        edge_min_chord2_cols(
            F.col("px"), F.col("py"), F.col("pz"),
            F.col("ax"), F.col("ay"), F.col("az"),
            F.col("bx"), F.col("by"), F.col("bz"),
        ).alias("chord2"),
    )
    per_point = exact.groupBy("shape_id", "point_id").agg(
        F.min("chord2").alias("dmin")
    )
    w = Window.partitionBy("shape_id").orderBy(F.desc("dmin"), F.asc("point_id"))
    return (
        per_point.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "shape_id",
            F.col("point_id").alias("worst_point_id"),
            F.col("dmin").alias("chord2"),
        )
    )


def chain_interpolate(
    chains: DataFrame,
    fractions: list[float],
    chain_id: str = "chain_id",
    seq: str = "seq",
    lat: str = "lat",
    lng: str = "lng",
) -> DataFrame:
    """(chain_id, frac_pct, x, y, z) point at each fraction of each
    chain's total geodesic length (F8, S2ChainInterpolationQuery /
    S2Polyline.interpolate). Entirely JVM: window lead() builds edges,
    chord->angle lengths accumulate per chain, the containing segment is
    picked by range + row_number, and the point comes from the
    getPointOnLine rotation. Fractions must lie in [0, 1)."""
    p = udfs.latlng_deg_to_xyz(F.col(lat), F.col(lng))
    pts = chains.withColumn("_p", p).select(
        F.col(chain_id).alias("chain_id"),
        F.col(seq).alias("seq"),
        F.col("_p.x").alias("ax"),
        F.col("_p.y").alias("ay"),
        F.col("_p.z").alias("az"),
    )
    w = Window.partitionBy("chain_id").orderBy("seq")
    e = pts.select(
        "chain_id",
        "seq",
        "ax", "ay", "az",
        F.lead("ax").over(w).alias("bx"),
        F.lead("ay").over(w).alias("by"),
        F.lead("az").over(w).alias("bz"),
    ).where(F.col("bx").isNotNull())
    chord2 = (
        (F.col("ax") - F.col("bx")) ** 2
        + (F.col("ay") - F.col("by")) ** 2
        + (F.col("az") - F.col("bz")) ** 2
    )
    e = e.withColumn("elen", F.lit(2.0) * F.asin(F.lit(0.5) * F.sqrt(chord2)))
    we = Window.partitionBy("chain_id").orderBy("seq")
    e = e.withColumn(
        "cum_before",
        F.coalesce(
            F.sum("elen").over(we.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0.0)
        ),
    ).withColumn("total", F.sum("elen").over(we.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    fr = local_df(chains.sparkSession, 
        [(int(round(f * 100)), float(f)) for f in fractions], "frac_pct int, frac double"
    )
    cand = e.crossJoin(F.broadcast(fr)).where(
        (F.col("cum_before") <= F.col("frac") * F.col("total"))
        & (F.col("frac") * F.col("total") < F.col("cum_before") + F.col("elen"))
    )
    # a target can satisfy the range on one edge only; row_number guards ties
    wsel = Window.partitionBy("chain_id", "frac_pct").orderBy("seq")
    cand = cand.withColumn("rn", F.row_number().over(wsel)).where(F.col("rn") == 1)
    r = F.col("frac") * F.col("total") - F.col("cum_before")
    # getPointOnLine: n = (b+a) x (b-a); d = normalize(n x a); out = cos(r)a + sin(r)d
    sx, sy, sz = F.col("bx") + F.col("ax"), F.col("by") + F.col("ay"), F.col("bz") + F.col("az")
    ddx, ddy, ddz = F.col("bx") - F.col("ax"), F.col("by") - F.col("ay"), F.col("bz") - F.col("az")
    n0 = sy * ddz - sz * ddy
    n1 = sz * ddx - sx * ddz
    n2 = sx * ddy - sy * ddx
    d0 = n1 * F.col("az") - n2 * F.col("ay")
    d1 = n2 * F.col("ax") - n0 * F.col("az")
    d2 = n0 * F.col("ay") - n1 * F.col("ax")
    dn = F.sqrt(d0 * d0 + d1 * d1 + d2 * d2)
    ox = F.cos(r) * F.col("ax") + F.sin(r) * d0 / dn
    oy = F.cos(r) * F.col("ay") + F.sin(r) * d1 / dn
    oz = F.cos(r) * F.col("az") + F.sin(r) * d2 / dn
    on = F.sqrt(ox * ox + oy * oy + oz * oz)
    return cand.select(
        "chain_id",
        "frac_pct",
        (ox / on).alias("x"),
        (oy / on).alias("y"),
        (oz / on).alias("z"),
    )


def convex_hull_per_group(
    df: DataFrame,
    group_col: str = "group_id",
    id_col: str = "id",
    lat: str = "lat",
    lng: str = "lng",
) -> DataFrame:
    """G5 as a per-group kernel after grouping: the convex hull of each
    group's points, emitted as (group_id, seq, point_id) hull-vertex rows
    in CCW loop order (hull vertices ARE input points, so ids are exact
    integers — no FP in the output). Groups spanning a hemisphere hull to
    the reference's FULL loop (S2ConvexHullQuery.java:137-153) and emit
    ONE marker row with point_id = -1 (the full loop's single vertex is
    the fake Z_NEG, not an input point)."""
    import numpy as np
    import pandas as pd

    from ..kernel import cellid as s2
    from ..kernel import convexhull as ch

    def per_group(key, pdf):
        lat_r = np.radians(pdf[lat].to_numpy(np.float64))
        lng_r = np.radians(pdf[lng].to_numpy(np.float64))
        x, y, z = s2.latlng_to_xyz(lat_r, lng_r)
        pts = np.stack([x, y, z], axis=1)
        hull = ch.convex_hull(pts)
        if ch.is_full_hull(hull):
            return pd.DataFrame(
                {
                    "group_id": np.array([key[0]], dtype=np.int64),
                    "seq": np.array([0], dtype=np.int32),
                    "point_id": np.array([-1], dtype=np.int64),
                }
            )
        if hull is None or len(hull) == 0:
            return pd.DataFrame({"group_id": [], "seq": [], "point_id": []}).astype(
                {"group_id": "int64", "seq": "int32", "point_id": "int64"}
            )
        ids = pdf[id_col].to_numpy(np.int64)
        lookup = {tuple(p): int(i) for p, i in zip(pts, ids)}
        hull_ids = [lookup[tuple(p)] for p in hull]
        return pd.DataFrame(
            {
                "group_id": np.full(len(hull_ids), key[0], dtype=np.int64),
                "seq": np.arange(len(hull_ids), dtype=np.int32),
                "point_id": np.array(hull_ids, dtype=np.int64),
            }
        )

    return df.groupBy(group_col).applyInPandas(
        per_group, "group_id long, seq int, point_id long"
    )


def project_points_to_chain(
    points: DataFrame,
    chain_vertices,
    point_id: str = "point_id",
    lat: str = "lat",
    lng: str = "lng",
) -> DataFrame:
    """(point_id, edge_idx, next_vertex) — S2Polyline.project
    (S2Polyline.java:603) of each point onto a broadcast chain: one
    Arrow-batched pandas UDF over the A21 chain kernel
    (kernel/edges.project_to_chain), no shuffle of the point side."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    from ..kernel import cellid as s2
    from ..kernel import edges as ek

    va = np.asarray(chain_vertices, dtype=np.float64)[:-1]
    vb = np.asarray(chain_vertices, dtype=np.float64)[1:]

    @pandas_udf(LongType())
    def edge_of(lat_s: pd.Series, lng_s: pd.Series) -> pd.Series:
        x, y, z = s2.latlng_to_xyz(
            np.radians(lat_s.to_numpy()), np.radians(lng_s.to_numpy())
        )
        pts = np.stack([x, y, z], axis=1)
        _proj, seg, _d = ek.project_to_chain(pts, va, vb)
        return pd.Series(seg)

    return points.select(
        F.col(point_id).alias("point_id"),
        edge_of(F.col(lat), F.col(lng)).alias("edge_idx"),
    ).withColumn("next_vertex", F.col("edge_idx") + 1)


def closest_index_edge_to_edges(
    query_edges: DataFrame,
    index_edges,
    query_id: str = "query_id",
) -> DataFrame:
    """(query_id, shape_id, edge_id) — the index edge nearest each QUERY
    EDGE (S2ClosestEdgeQuery with an EdgeTarget,
    S2BestEdgesQueryBase.EdgeTarget): edge-pair distance = 0 on
    crossing-or-touching, else min endpoint-to-edge distance
    (kernel/edges.edge_pair_min_chord2). ``index_edges`` is a broadcast
    list of (shape_id, edge_id, a(3,), b(3,)); query edges arrive as
    (query_id, lat0, lng0, lat1, lng1) degree columns and run through ONE
    Arrow-batched UDF (the covering join prunes candidates at scale; this
    is the exact broadcast form the gates use)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    from ..kernel import cellid as s2
    from ..kernel import edges as ek

    sids = [e[0] for e in index_edges]
    eids = [int(e[1]) for e in index_edges]
    A = np.asarray([e[2] for e in index_edges], dtype=np.float64)
    B = np.asarray([e[3] for e in index_edges], dtype=np.float64)

    @pandas_udf(LongType())
    def best_edge(lat0: pd.Series, lng0: pd.Series,
                  lat1: pd.Series, lng1: pd.Series) -> pd.Series:
        x0, y0, z0 = s2.latlng_to_xyz(np.radians(lat0.to_numpy()),
                                      np.radians(lng0.to_numpy()))
        x1, y1, z1 = s2.latlng_to_xyz(np.radians(lat1.to_numpy()),
                                      np.radians(lng1.to_numpy()))
        P0 = np.stack([x0, y0, z0], axis=1)
        P1 = np.stack([x1, y1, z1], axis=1)
        d = ek.edge_pair_min_chord2(
            P0[:, None, :], P1[:, None, :], A[None, :, :], B[None, :, :]
        )
        return pd.Series(d.argmin(axis=1).astype(np.int64))

    out = query_edges.select(
        F.col(query_id).alias("query_id"),
        best_edge("lat0", "lng0", "lat1", "lng1").alias("_idx"),
    )
    lut_sid = F.array(*[F.lit(s) for s in sids])
    lut_eid = F.array(*[F.lit(e) for e in eids])
    return out.select(
        "query_id",
        F.element_at(lut_sid, (F.col("_idx") + 1).cast("int")).alias("shape_id"),
        F.element_at(lut_eid, (F.col("_idx") + 1).cast("int")).alias("edge_id"),
    )
