"""The engine's query registry: every operator exposed as a
(spark, sf_dir) -> DataFrame callable plus, where SQL-expressible, a DuckDB
oracle string computing the identical result — the driver's correctness
gate (see __spark_entry__.py).

Design rule: every output column is either an integer/string computed by
integer-exact arithmetic in both engines, or an FP value used only through
order/threshold decisions whose flip probability is ~measure-zero on the
synthetic data. Aggregated money is integer cents; all aliases match the
oracle exactly (the driver hashes by column name).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from . import oracle
from .functions import columns as cc
from .functions import udfs
from .kernel import cellid as s2
from .kernel import coverer as cov
from .kernel import region as rg
from .kernel import sphere
from .operators import (
    dedup,
    knn,
    packing,
    pip,
    sampling,
    sessions,
    similarity,
    textstats,
    tiling,
    tolerant,
)
from .sources import docs as docsrc
from .sources import geo, tables
from .localdf import local_df

# ---------------------------------------------------------------------------
# Fixed query geometry (deterministic, defined once; convex CCW quads so the
# SQL oracle can verify containment with the all-edges-sign test).
# ---------------------------------------------------------------------------

# Half-widths are nudged off the 0.01-degree synthetic point grid so no
# point ever lands exactly on a polygon edge: there the edge determinant is
# ~1e-17 and the Spark exact predicate vs DuckDB's double det could disagree,
# making the oracle gate flaky at larger scale factors.
PIP_QUADS = {
    "p0": (10.0, 20.0, 4.0051),
    "p1": (45.0, -100.0, 6.0051),
    "p2": (-30.0, 140.0, 5.0051),
    "p3": (5.0, 178.0, 4.0051),  # dateline-crossing
    "p4": (-60.0, -45.0, 6.0051),
    "p5": (70.0, 60.0, 5.0051),
}

CAP_CENTER = (30.0, 40.0)
CAP_RADIUS_DEG = 25.0
RECT_DEG = (10.0, 50.0, 150.0, -160.0)  # lat_lo, lat_hi, lng_lo, lng_hi (wraps)


def _quad_polygon(clat, clng, h) -> rg.Polygon:
    return rg.Polygon(
        [
            rg.Loop.from_latlng_degrees(
                [
                    (clat - h, clng - h),
                    (clat - h, clng + h),
                    (clat + h, clng + h),
                    (clat + h, clng - h),
                ]
            )
        ]
    )


def pip_polygons() -> dict[str, rg.Polygon]:
    return {pid: _quad_polygon(*spec) for pid, spec in PIP_QUADS.items()}


def _quad_edges_sql_values() -> str:
    """All polygon edges as (pid, ax..bz) VALUES with full-precision xyz."""
    rows = []
    for pid, poly in pip_polygons().items():
        v = poly.loops[0].vertices
        for k in range(len(v)):
            a = v[k]
            b = v[(k + 1) % len(v)]
            rows.append(
                f"('{pid}',{a[0]!r},{a[1]!r},{a[2]!r},{b[0]!r},{b[1]!r},{b[2]!r})"
            )
    return ",".join(rows)


def _pts_sql(table: str, key: str) -> str:
    """DuckDB subquery: integer keys -> (k, face, i, j) per sources/geo.py."""
    return (
        f"SELECT {key} AS k, {geo.face_sql(key)} AS face, "
        f"{geo.i_sql(key)} AS i, {geo.j_sql(key)} AS j FROM {table}"
    )


def _latlng_sql(table: str, key: str) -> str:
    return (
        f"SELECT {key} AS k, {geo.lat_sql(key)} AS lat, {geo.lng_sql(key)} AS lng "
        f"FROM {table}"
    )


_XYZ_SQL = (
    "cos(radians(lat))*cos(radians(lng)) AS x, "
    "cos(radians(lat))*sin(radians(lng)) AS y, "
    "sin(radians(lat)) AS z"
)


# ---------------------------------------------------------------------------
# Small Spark helpers
# ---------------------------------------------------------------------------

def _points_from_keys(df: DataFrame, key: str) -> DataFrame:
    k = F.col(key)
    return df.select(
        k.alias("k"),
        geo.face_col(key).alias("face"),
        geo.i_col(key).alias("i"),
        geo.j_col(key).alias("j"),
        geo.lat_col(key).alias("lat"),
        geo.lng_col(key).alias("lng"),
    )


_CAP = rg.Cap.from_latlng_deg(*CAP_CENTER, CAP_RADIUS_DEG)
_RECT = rg.LatLngRect.from_degrees(*RECT_DEG)


@pandas_udf(BooleanType())
def _cap_contains_udf(lat: pd.Series, lng: pd.Series) -> pd.Series:
    x, y, z = s2.latlng_to_xyz(
        np.radians(lat.to_numpy(np.float64)), np.radians(lng.to_numpy(np.float64))
    )
    return pd.Series(_CAP.contains_points(x, y, z))


@pandas_udf(BooleanType())
def _rect_contains_udf(lat: pd.Series, lng: pd.Series) -> pd.Series:
    return pd.Series(
        _RECT.contains_latlng(
            np.radians(lat.to_numpy(np.float64)), np.radians(lng.to_numpy(np.float64))
        )
    )


# C6 composite-region gate geometry: cap AND (non-wrapping) rect.
_RECT2 = rg.LatLngRect.from_degrees(10.0, 50.0, 20.0, 60.0)


@pandas_udf(BooleanType())
def _composite_contains_udf(lat: pd.Series, lng: pd.Series) -> pd.Series:
    lat_r = np.radians(lat.to_numpy(np.float64))
    lng_r = np.radians(lng.to_numpy(np.float64))
    x, y, z = s2.latlng_to_xyz(lat_r, lng_r)
    comp = rg.RegionIntersection([_CAP, _RECT2])
    return pd.Series(comp.contains_points(x, y, z))


def _covering_members(spark: SparkSession, pts: DataFrame, cell_ids) -> DataFrame:
    """Rows of ``pts`` (with a ``leaf`` column) whose leaf lies in one of
    the non-nested signed ``cell_ids``: pip.candidate_join over them as
    one covering (C5: containment is a JOIN, not a kernel)."""
    rows = [("_", int(c)) for c in cell_ids]
    return pip.candidate_join(spark, pts, rows, "polygon_id string, cell_id long")


def q_composite_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: points inside cap AND rect — the COMPOSITE region drives the
    coverer (covering soundness end-to-end), the exact predicate refines."""
    region = rg.RegionIntersection([_CAP, _RECT2])
    ids = cov.RegionCoverer(max_cells=12).get_covering(region)
    pts = tables.load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        geo.lat_col("c_custkey").alias("lat"),
        geo.lng_col("c_custkey").alias("lng"),
    )
    pts = pts.withColumn(
        "leaf", udfs.cell_id_from_latlng_deg(F.col("lat"), F.col("lng"), 30)
    )
    cand = _covering_members(spark, pts, s2.to_signed(ids))
    return cand.where(_composite_contains_udf(F.col("lat"), F.col("lng"))).select("k")


def q_composite_region_oracle() -> str:
    # The rect leg MUST mirror the kernel's xyz -> latlng ROUNDTRIP
    # (S2LatLngRect.contains(S2Point) converts the point back via atan2,
    # kernel/cellid.xyz_to_latlng): testing the original degrees instead
    # flips points sitting exactly on a rect boundary — atan2(y,x) of the
    # projected point can differ from radians(lng) by one ulp (first seen
    # at sf0.1: k=4000 lies exactly on lng=20.0).
    cx, cy, cz = _CAP.center
    r2 = _RECT2
    return f"""
    WITH ll AS ({_latlng_sql('customer', 'c_custkey')}),
    p AS (SELECT k, lat, lng, {_XYZ_SQL} FROM ll)
    SELECT k FROM p
    WHERE least(4.0, (x-({cx!r}))*(x-({cx!r})) + (y-({cy!r}))*(y-({cy!r}))
        + (z-({cz!r}))*(z-({cz!r}))) <= {_CAP.radius2!r}
      AND atan2(z, sqrt(x*x + y*y)) >= {float(r2.lat_lo)!r}
      AND atan2(z, sqrt(x*x + y*y)) <= {float(r2.lat_hi)!r}
      AND atan2(y, x) >= {float(r2.lng_lo)!r}
      AND atan2(y, x) <= {float(r2.lng_hi)!r}
    """


# ===========================================================================
# S2 kernel queries (integer-exact oracles via the SQL Hilbert encoder)
# ===========================================================================

def q_cellid_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: leaf cell ids from integer-derived (face,i,j) over orders,
    through the Arrow encoder (udfs.cell_id_from_face_ij); the oracle is
    the SQL Hilbert encoder, so the gate pins the kernel bit for bit."""
    pts = _points_from_keys(tables.load_table(spark, sf_dir, "orders"), "o_orderkey")
    return pts.select("k", udfs.cell_id_from_face_ij("face", "i", "j").alias("cell_id"))


def q_cellid_encode_oracle() -> str:
    return oracle.hilbert_encode_sql(_pts_sql("orders", "o_orderkey"), ["k"])


def q_cellid_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6+A8 inverse: encode -> decode must reproduce (face,i,j) exactly."""
    pts = _points_from_keys(tables.load_table(spark, sf_dir, "orders"), "o_orderkey")
    enc = pts.select("k", udfs.cell_id_from_face_ij("face", "i", "j").alias("cell_id"))
    dec = enc.withColumn("fij", udfs.cell_id_to_face_ij(F.col("cell_id")))
    return dec.select(
        "k",
        F.col("fij.face").alias("face"),
        F.col("fij.i").alias("i"),
        F.col("fij.j").alias("j"),
    )


def q_cellid_roundtrip_oracle() -> str:
    return f"SELECT k, face, i, j FROM ({_pts_sql('orders', 'o_orderkey')})"


def q_cell_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9-A12 as pure Column bit math: level/parent/range/token at mixed
    levels — stays entirely in WholeStageCodegen (no Python)."""
    pts = _points_from_keys(tables.load_table(spark, sf_dir, "orders"), "o_orderkey")
    lvl = (F.col("k") % 26 + 3).cast("int")
    enc = pts.select(
        "k",
        cc.parent(udfs.cell_id_from_face_ij("face", "i", "j"), lvl).alias("cell_id"),
    )
    return enc.select(
        "k",
        "cell_id",
        cc.level("cell_id").alias("level"),
        cc.parent("cell_id", F.greatest(cc.level("cell_id") - 2, F.lit(0))).alias("parent2"),
        cc.range_min("cell_id").alias("rmin"),
        cc.range_max("cell_id").alias("rmax"),
        cc.token("cell_id").alias("token"),
    )


def q_cell_algebra_oracle() -> str:
    enc = oracle.hilbert_encode_sql(_pts_sql("orders", "o_orderkey"), ["k"])
    leveled = (
        f"SELECT k, {oracle.parent_sql('cell_id', '(k % 26 + 3)')} AS cell_id "
        f"FROM ({enc})"
    )
    lvl = oracle.level_sql("cell_id")
    return (
        f"SELECT k, cell_id, {lvl} AS level, "
        f"{oracle.parent_sql('cell_id', f'greatest({lvl} - 2, 0)')} AS parent2, "
        f"{oracle.range_min_sql('cell_id')} AS rmin, "
        f"{oracle.range_max_sql('cell_id')} AS rmax, "
        f"{oracle.token_sql('cell_id')} AS token "
        f"FROM ({leveled})"
    )


def q_cell_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D11 as a gated aggregate: per face over mixed-level cells, the
    number of cells and total leaf cells covered (integer-exact measures;
    area = leaves x AVG_AREA(30), kept integer here). Pure Column math."""
    pts = _points_from_keys(tables.load_table(spark, sf_dir, "orders"), "o_orderkey")
    lvl = (F.col("k") % 26 + 3).cast("int")
    enc = pts.select(
        cc.parent(udfs.cell_id_from_face_ij("face", "i", "j"), lvl).alias("cell_id")
    )
    # The per-face leaf total reaches ~rows x 4^27 — past int64 at sf0.1
    # (and trivially at 100 TB). Sum in TWO 64-bit limbs split at bit 31
    # (exact, order-independent, overflow-free to ~4e9 rows/face; beyond
    # that the same carry step composes per partial aggregate):
    # total = leaves_hi * 2^31 + leaves_lo.
    lv = cc.leaf_cells_covered("cell_id")
    mask31 = F.lit(2147483647)
    return (
        enc.groupBy(cc.face("cell_id").alias("face"))
        .agg(
            F.count("*").alias("n_cells"),
            F.sum(F.shiftright(lv, 31)).alias("hi_raw"),
            F.sum(lv.bitwiseAND(mask31)).alias("lo_raw"),
        )
        .select(
            "face",
            "n_cells",
            (F.col("hi_raw") + F.shiftright(F.col("lo_raw"), 31)).alias("leaves_hi"),
            F.col("lo_raw").bitwiseAND(mask31).alias("leaves_lo"),
        )
    )


def q_cell_measures_oracle() -> str:
    enc = oracle.hilbert_encode_sql(_pts_sql("orders", "o_orderkey"), ["k"])
    leveled = (
        f"SELECT k, {oracle.parent_sql('cell_id', '(k % 26 + 3)')} AS cell_id "
        f"FROM ({enc})"
    )
    lvl = oracle.level_sql("cell_id")
    return f"""
    SELECT face, n_cells,
      CAST(hi_raw + (lo_raw >> 31) AS BIGINT) AS leaves_hi,
      CAST(lo_raw & 2147483647 AS BIGINT) AS leaves_lo
    FROM (
      SELECT CAST((cell_id >> 61) & 7 AS INTEGER) AS face,
        COUNT(*) AS n_cells,
        CAST(SUM(lv >> 31) AS BIGINT) AS hi_raw,
        CAST(SUM(lv & 2147483647) AS BIGINT) AS lo_raw
      FROM (SELECT cell_id,
              (CAST(1 AS BIGINT) << (2 * (30 - {lvl}))) AS lv
            FROM ({leveled}))
      GROUP BY 1)
    """


def q_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4/tiling tagged union: level-12 tile rollup (kind='count') + per-tile
    top-2 category heavy hitters (kind='topcat',
    operators/tiling.tile_top_categories; category = k % 8 — the
    histogram-then-rank shape whose window shuffles tiles x categories,
    never input rows)."""
    pts = _points_from_keys(tables.load_table(spark, sf_dir, "orders"), "o_orderkey")
    enc = pts.select("k", udfs.cell_id_from_face_ij("face", "i", "j").alias("leaf"))
    tiled = enc.select("k", cc.parent("leaf", 12).alias("tile"))
    counts = (
        tiled.groupBy("tile")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("count").alias("kind"),
            "tile",
            F.lit(-1).cast("long").alias("cat"),
            "n",
            F.lit(0).cast("long").alias("rank"),
        )
    )
    top = tiling.tile_top_categories(
        tiled.withColumn("cat", F.col("k") % 8), "cat", k=2
    ).select(
        F.lit("topcat").alias("kind"),
        "tile",
        F.col("cat").cast("long").alias("cat"),
        "n",
        F.col("rank").cast("long").alias("rank"),
    )
    return counts.unionByName(top)


def q_tile_counts_oracle() -> str:
    enc = oracle.hilbert_encode_sql(_pts_sql("orders", "o_orderkey"), ["k"])
    return f"""
    WITH t AS (SELECT k, {oracle.parent_sql('cell_id', '12')} AS tile
               FROM ({enc})),
    c AS (SELECT tile, COUNT(*) AS n FROM t GROUP BY 1),
    h AS (SELECT tile, k % 8 AS cat, COUNT(*) AS n FROM t GROUP BY 1, 2),
    r AS (SELECT tile, cat, n, row_number() OVER
          (PARTITION BY tile ORDER BY n DESC, cat) AS rank FROM h)
    SELECT 'count' AS kind, tile, CAST(-1 AS BIGINT) AS cat, n,
           CAST(0 AS BIGINT) AS rank
    FROM c
    UNION ALL
    SELECT 'topcat', tile, CAST(cat AS BIGINT), n, CAST(rank AS BIGINT)
    FROM r WHERE rank <= 2
    """


def q_mercator_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6 raster bridge: per web-mercator XYZ tile (zoom 8) point counts —
    the projected-raster side of raster<->vector joins. Pure JVM Columns."""
    pts = _points_from_keys(tables.load_table(spark, sf_dir, "orders"), "o_orderkey")
    tx, ty = tiling.mercator_tile_cols("lat", "lng", 8)
    return (
        pts.select(tx.alias("tx"), ty.alias("ty"))
        .groupBy("tx", "ty")
        .agg(F.count("*").alias("n"))
    )


def q_mercator_tiles_oracle() -> str:
    return f"""
    WITH ll AS ({_latlng_sql('orders', 'o_orderkey')}),
    c AS (SELECT greatest(-85.05112877980659, least(85.05112877980659, lat)) AS latc,
                 lng FROM ll),
    t AS (SELECT
        least(CAST(floor((lng + 180.0) / 360.0 * 256.0) AS BIGINT), 255) AS tx,
        CAST(floor((1.0 - ln(tan(radians(latc)) + 1.0/cos(radians(latc))) / pi())
             / 2.0 * 256.0) AS BIGINT) AS ty
        FROM c)
    SELECT tx, ty, COUNT(*) AS n FROM t GROUP BY 1, 2
    """


def q_face_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/xyzToFace over trig-derived lat/lng; grouped so 1-ulp libm
    differences cannot flip the output."""
    ev = tables.load_table(spark, sf_dir, "events")
    pts = ev.select(
        geo.lat_col("event_id").alias("lat"), geo.lng_col("event_id").alias("lng")
    )
    return (
        pts.select(udfs.face_from_latlng_deg("lat", "lng").alias("face"))
        .groupBy("face")
        .agg(F.count("*").alias("n"))
    )


def q_face_counts_oracle() -> str:
    pts = _latlng_sql("events", "event_id")
    return f"""
    WITH p AS (SELECT k, {_XYZ_SQL} FROM ({pts})),
    f AS (SELECT k, CASE
        WHEN abs(x) > abs(y) THEN (CASE WHEN abs(x) > abs(z)
            THEN (CASE WHEN x < 0 THEN 3 ELSE 0 END)
            ELSE (CASE WHEN z < 0 THEN 5 ELSE 2 END) END)
        ELSE (CASE WHEN abs(y) > abs(z)
            THEN (CASE WHEN y < 0 THEN 4 ELSE 1 END)
            ELSE (CASE WHEN z < 0 THEN 5 ELSE 2 END) END)
      END AS face FROM p)
    SELECT CAST(face AS INTEGER) AS face, COUNT(*) AS n FROM f GROUP BY 1
    """


def q_cap_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: spherical-cap point containment over customers."""
    cust = tables.load_table(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("k"),
        geo.lat_col("c_custkey").alias("lat"),
        geo.lng_col("c_custkey").alias("lng"),
    )
    return pts.select("k", _cap_contains_udf("lat", "lng").alias("inside"))


def q_cap_contains_oracle() -> str:
    cx, cy, cz = _CAP.center
    return f"""
    WITH p AS (SELECT k, {_XYZ_SQL} FROM ({_latlng_sql('customer', 'c_custkey')}))
    SELECT k, (least(4.0, (x-({cx!r}))*(x-({cx!r})) + (y-({cy!r}))*(y-({cy!r}))
        + (z-({cz!r}))*(z-({cz!r}))) <= {_CAP.radius2!r}) AS inside FROM p
    """


def q_rect_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2: dateline-wrapping lat/lng-rect containment over parts."""
    part = tables.load_table(spark, sf_dir, "part")
    pts = part.select(
        F.col("p_partkey").alias("k"),
        geo.lat_col("p_partkey").alias("lat"),
        geo.lng_col("p_partkey").alias("lng"),
    )
    return pts.select("k", _rect_contains_udf("lat", "lng").alias("inside"))


def q_rect_contains_oracle() -> str:
    lat_lo, lat_hi, lng_lo, lng_hi = RECT_DEG
    return f"""
    SELECT k, (lat >= {lat_lo!r} AND lat <= {lat_hi!r}
        AND (lng >= {lng_lo!r} OR lng <= {lng_hi!r})) AS inside
    FROM ({_latlng_sql('part', 'p_partkey')})
    """


def q_pip_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 general path: covering hash join + crossing-parity Arrow kernel
    (the bench headline; handles concave/holed polygons)."""
    pts = _points_from_keys(tables.load_table(spark, sf_dir, "orders"), "o_orderkey")
    return pip.pip_join(spark, pts, pip_polygons(), point_id="k").withColumnsRenamed(
        {"point_id": "k"}
    )


def _quad_text(clat: float, clng: float, h: float) -> str:
    """PIP quad as S2TextFormat loop text (repr floats round-trip exactly)."""
    pts = [
        (clat - h, clng - h),
        (clat - h, clng + h),
        (clat + h, clng + h),
        (clat + h, clng - h),
    ]
    return ", ".join(f"{la!r}:{ln!r}" for la, ln in pts)


def q_pip_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/E2 scale path: polygons as a TABLE; coverings computed executor-
    side (mapInPandas) and collected, then pip_join's candidate join and
    exact filter over the parsed polygons. Same oracle as pip_contains."""
    from .operators import shapes as shape_ops

    shapes = local_df(spark, 
        [(pid, _quad_text(*spec)) for pid, spec in PIP_QUADS.items()],
        "shape_id string, text string",
    ).coalesce(1)
    pts = _points_from_keys(tables.load_table(spark, sf_dir, "orders"), "o_orderkey")
    return shape_ops.pip_join_indexed(spark, pts, shapes, point_id="k").withColumnsRenamed(
        {"point_id": "k"}
    )


def q_pip_contains_oracle() -> str:
    return f"""
    WITH p AS (SELECT k, {_XYZ_SQL} FROM ({_latlng_sql('orders', 'o_orderkey')})),
    e(pid, ax, ay, az, bx, by, bz) AS (VALUES {_quad_edges_sql_values()}),
    d AS (SELECT p.k, e.pid,
        (ax*(by*z - bz*y) + ay*(bz*x - bx*z) + az*(bx*y - by*x)) AS det
        FROM p CROSS JOIN e)
    SELECT k, pid AS polygon_id FROM d GROUP BY k, pid HAVING bool_and(det > 0)
    """


# General (non-convex) PIP gate geometry: a concave L-shape, a quad with a
# hole (XOR loops), and a triangle — all vertices nudged off the 0.01-degree
# synthetic grid. These exercise the crossing-parity kernel's general path,
# which the convex-quad det oracle cannot.
def general_polygons() -> dict[str, rg.Polygon]:
    la, lo = 8.0043, 44.0021
    l_shape = rg.Loop.from_latlng_degrees(
        [
            (la, lo),
            (la, lo + 12),
            (la + 5, lo + 12),
            (la + 5, lo + 5),
            (la + 12, lo + 5),
            (la + 12, lo),
        ]
    )
    outer = rg.Loop.from_latlng_degrees(
        [(-28.0043, -68.0021), (-28.0043, -52.0021), (-12.0043, -52.0021), (-12.0043, -68.0021)]
    )
    hole = rg.Loop.from_latlng_degrees(
        [(-23.0043, -63.0021), (-23.0043, -57.0021), (-17.0043, -57.0021), (-17.0043, -63.0021)]
    )
    tri = rg.Loop.from_latlng_degrees(
        [(48.0043, -152.0021), (54.0043, -146.0021), (57.0043, -155.0021)]
    )
    return {
        "g0": rg.Polygon([l_shape]),
        "g1": rg.Polygon([outer, hole]),
        "g2": rg.Polygon([tri]),
    }


def q_pip_general(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 general path over CONCAVE / HOLED polygons — the crossing-parity
    kernel's full semantics, oracle-checked via SQL crossing parity."""
    pts = _points_from_keys(tables.load_table(spark, sf_dir, "orders"), "o_orderkey")
    return pip.pip_join(spark, pts, general_polygons(), point_id="k").withColumnsRenamed(
        {"point_id": "k"}
    )


def q_pip_general_oracle() -> str:
    """Crossing-parity in SQL: for each loop edge (c,d) and query point p,
    the geodesic ORIGIN->p crosses iff the four orientation signs agree
    and are nonzero; sign coefficient vectors (origin x c), (d x origin),
    (d x c) and the all-literal fourth sign are precomputed in Python.
    inside(loop) = origin_inside XOR parity; inside(polygon) = XOR loops."""
    o = rg.Loop.ORIGIN
    rows = []
    for pid, poly in general_polygons().items():
        for lid, lp in enumerate(poly.loops):
            v = lp.vertices
            oi = 1 if lp.origin_inside else 0
            for kk in range(len(v)):
                c = v[kk]
                d = v[(kk + 1) % len(v)]
                k1 = np.cross(o, c)  # det(o,c,p) = (o x c) . p
                k2 = np.cross(d, o)  # det(p,d,o) = (d x o) . p
                k3 = np.cross(d, c)  # det(c,p,d) = (d x c) . p
                s4 = int(np.sign(np.dot(np.cross(d, o), c)))  # det(d,o,c)
                rows.append(
                    f"('{pid}',{lid},{oi},"
                    f"{k1[0]!r},{k1[1]!r},{k1[2]!r},"
                    f"{k2[0]!r},{k2[1]!r},{k2[2]!r},"
                    f"{k3[0]!r},{k3[1]!r},{k3[2]!r},{s4})"
                )
    values = ",".join(rows)
    s1 = "sign(k1x*x + k1y*y + k1z*z)"
    s2 = "sign(k2x*x + k2y*y + k2z*z)"
    s3 = "sign(k3x*x + k3y*y + k3z*z)"
    return f"""
    WITH p AS (SELECT k, {_XYZ_SQL} FROM ({_latlng_sql('orders', 'o_orderkey')})),
    e(pid, lid, oi, k1x, k1y, k1z, k2x, k2y, k2z, k3x, k3y, k3z, s4)
        AS (VALUES {values}),
    cr AS (SELECT p.k, e.pid, e.lid, e.oi,
        SUM(CASE WHEN {s1} = {s2} AND {s1} = {s3} AND {s1} = e.s4
                 AND {s1} <> 0 THEN 1 ELSE 0 END) AS ncross
        FROM p CROSS JOIN e GROUP BY p.k, e.pid, e.lid, e.oi),
    li AS (SELECT k, pid, (oi + ncross) % 2 AS inside_l FROM cr)
    SELECT k, pid AS polygon_id FROM li GROUP BY k, pid HAVING SUM(inside_l) % 2 = 1
    """


# F2 gate geometry: radii nudged off round numbers so no synthetic point
# sits within FP noise of the decision boundary.
TOLERANT_RADIUS_RAD = 1000.37e3 / sphere.EARTH_RADIUS_METERS  # ~1000 km
NEAR_POLY_RADIUS_RAD = float(np.radians(3.0037))  # ~3 degrees


def q_tolerant_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 point x point: all (customer, supplier) pairs within ~1000 km —
    cell-keyed ring equi-join + exact chord post-filter (no cross product)."""
    cust = tables.load_table(spark, sf_dir, "customer")
    supp = tables.load_table(spark, sf_dir, "supplier")
    a = cust.select(
        F.col("c_custkey").alias("k"),
        geo.lat_col("c_custkey").alias("lat"),
        geo.lng_col("c_custkey").alias("lng"),
    )
    b = supp.select(
        F.col("s_suppkey").alias("k"),
        geo.lat_col("s_suppkey").alias("lat"),
        geo.lng_col("s_suppkey").alias("lng"),
    )
    return tolerant.tolerant_pairs(
        a, b, TOLERANT_RADIUS_RAD, a_id="k", b_id="k"
    ).select(F.col("a_id").alias("cust"), F.col("b_id").alias("supp"))


def q_tolerant_pairs_oracle() -> str:
    threshold = float(sphere.chord2_from_angle(TOLERANT_RADIUS_RAD))
    return f"""
    WITH cp AS (SELECT k, {_XYZ_SQL} FROM ({_latlng_sql('customer', 'c_custkey')})),
    sp AS (SELECT k, {_XYZ_SQL} FROM ({_latlng_sql('supplier', 's_suppkey')}))
    SELECT cp.k AS cust, sp.k AS supp
    FROM cp CROSS JOIN sp
    WHERE least(4.0, (cp.x-sp.x)*(cp.x-sp.x) + (cp.y-sp.y)*(cp.y-sp.y)
        + (cp.z-sp.z)*(cp.z-sp.z)) <= {threshold!r}
    """


def _edge_term_sql(a, b, x: str, y: str, z: str) -> str:
    """Min chord2 from point (x,y,z) to ONE edge (a,b) as SQL replicating
    kernel/edges.min_chord2_to_edges op-for-op (planar acute test, wedge
    signs, XQ^2 + QR^2)."""
    eps = float(np.finfo(np.float64).eps)
    c = np.cross(b + a, b - a)  # robust_cross_prod stable form
    c2 = float(c @ c)
    ab2 = float((a - b) @ (a - b))
    xa2 = f"(({x}-({a[0]!r}))*({x}-({a[0]!r})) + ({y}-({a[1]!r}))*({y}-({a[1]!r})) + ({z}-({a[2]!r}))*({z}-({a[2]!r})))"
    xb2 = f"(({x}-({b[0]!r}))*({x}-({b[0]!r})) + ({y}-({b[1]!r}))*({y}-({b[1]!r})) + ({z}-({b[2]!r}))*({z}-({b[2]!r})))"
    xdc = f"({c[0]!r}*{x} + {c[1]!r}*{y} + {c[2]!r}*{z})"
    cxx = f"({c[1]!r}*{z} - {c[2]!r}*{y})"
    cxy = f"({c[2]!r}*{x} - {c[0]!r}*{z})"
    cxz = f"({c[0]!r}*{y} - {c[1]!r}*{x})"
    wedge = (
        f"((({a[0]!r}-{x})*{cxx} + ({a[1]!r}-{y})*{cxy} + ({a[2]!r}-{z})*{cxz}) < 0"
        f" AND (({b[0]!r}-{x})*{cxx} + ({b[1]!r}-{y})*{cxy} + ({b[2]!r}-{z})*{cxz}) > 0)"
    )
    planar = (
        f"(abs({xa2} - {xb2}) < {ab2!r} + "
        f"(4.75*{eps!r}*({xa2} + {xb2} + {ab2!r}) + 8*{eps!r}*{eps!r}))"
    )
    qr = f"(1 - sqrt(({cxx}*{cxx} + {cxy}*{cxy} + {cxz}*{cxz}) / {c2!r}))"
    dint = f"({xdc}*{xdc}/{c2!r} + {qr}*{qr})"
    dend = f"least({xa2}, {xb2})"
    return f"(CASE WHEN {planar} AND {wedge} THEN least({dint}, {dend}) ELSE {dend} END)"


def _edge_term_sql_sym(ax, ay, az, bx, by, bz, px, py, pz) -> str:
    """Fully symbolic variant of _edge_term_sql: min chord2 from point
    (px,py,pz) to edge (a,b) where EVERY coordinate is an SQL expression
    (all intermediates computed in SQL doubles with the kernel's op
    order, so results stay bit-identical to numpy doubles)."""
    eps = float(np.finfo(np.float64).eps)
    sx, sy, sz = f"({bx}+{ax})", f"({by}+{ay})", f"({bz}+{az})"
    dx, dy, dz = f"({bx}-{ax})", f"({by}-{ay})", f"({bz}-{az})"
    c0 = f"({sy}*{dz} - {sz}*{dy})"
    c1 = f"({sz}*{dx} - {sx}*{dz})"
    c2_ = f"({sx}*{dy} - {sy}*{dx})"
    cn2 = f"({c0}*{c0} + {c1}*{c1} + {c2_}*{c2_})"
    ab2 = f"(({ax}-{bx})*(({ax})-({bx})) + ({ay}-{by})*(({ay})-({by})) + ({az}-{bz})*(({az})-({bz})))"
    xa2 = f"(({px}-{ax})*(({px})-({ax})) + ({py}-{ay})*(({py})-({ay})) + ({pz}-{az})*(({pz})-({az})))"
    xb2 = f"(({px}-{bx})*(({px})-({bx})) + ({py}-{by})*(({py})-({by})) + ({pz}-{bz})*(({pz})-({bz})))"
    xdc = f"({c0}*{px} + {c1}*{py} + {c2_}*{pz})"
    cxx = f"({c1}*{pz} - {c2_}*{py})"
    cxy = f"({c2_}*{px} - {c0}*{pz})"
    cxz = f"({c0}*{py} - {c1}*{px})"
    wedge = (
        f"((({ax}-{px})*{cxx} + ({ay}-{py})*{cxy} + ({az}-{pz})*{cxz}) < 0"
        f" AND (({bx}-{px})*{cxx} + ({by}-{py})*{cxy} + ({bz}-{pz})*{cxz}) > 0)"
    )
    planar = (
        f"(abs({xa2} - {xb2}) < {ab2} + "
        f"(4.75*{eps!r}*({xa2} + {xb2} + {ab2}) + 8*{eps!r}*{eps!r}))"
    )
    qr = f"(1 - sqrt(({cxx}*{cxx} + {cxy}*{cxy} + {cxz}*{cxz}) / {cn2}))"
    dint = f"({xdc}*{xdc}/{cn2} + {qr}*{qr})"
    dend = f"least({xa2}, {xb2})"
    return f"(CASE WHEN {planar} AND {wedge} THEN least({dint}, {dend}) ELSE {dend} END)"


def _edge_distance_sql(x: str, y: str, z: str) -> str:
    """Min chord2 from point (x,y,z) to every PIP-quad boundary edge, as a
    per-polygon CASE tree (least over the per-edge terms)."""
    per_pid = []
    for pid, poly in pip_polygons().items():
        terms = []
        for lp in poly.loops:
            v = lp.vertices
            for kk in range(len(v)):
                terms.append(_edge_term_sql(v[kk], v[(kk + 1) % len(v)], x, y, z))
        per_pid.append((pid, f"least({', '.join(terms)})"))
    return per_pid


def q_near_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 point x region: orders points within ~3 deg of each query quad
    (inside counts) — expanded-covering broadcast join + A21 edge-distance
    kernel post-filter."""
    pts = _points_from_keys(tables.load_table(spark, sf_dir, "orders"), "o_orderkey")
    out = tolerant.within_distance_of_polygons(
        spark, pts, pip_polygons(), NEAR_POLY_RADIUS_RAD, point_id="k"
    )
    return out.select(F.col("point_id").alias("k"), "polygon_id")


def q_near_polygon_oracle() -> str:
    threshold = float(sphere.chord2_from_angle(NEAR_POLY_RADIUS_RAD))
    dist_cases = " ".join(
        f"WHEN pid = '{pid}' THEN {expr}" for pid, expr in _edge_distance_sql("x", "y", "z")
    )
    return f"""
    WITH p AS (SELECT k, {_XYZ_SQL} FROM ({_latlng_sql('orders', 'o_orderkey')})),
    e(pid, ax, ay, az, bx, by, bz) AS (VALUES {_quad_edges_sql_values()}),
    dets AS (SELECT p.k, e.pid,
        (ax*(by*z - bz*y) + ay*(bz*x - bx*z) + az*(bx*y - by*x)) AS det
        FROM p CROSS JOIN e),
    inside AS (SELECT k, pid FROM dets GROUP BY k, pid HAVING bool_and(det > 0)),
    near AS (SELECT p.k, d.pid FROM p
        CROSS JOIN (SELECT DISTINCT pid FROM e) d
        WHERE (CASE {dist_cases} END) <= {threshold!r})
    SELECT k, pid AS polygon_id FROM inside
    UNION
    SELECT k, pid AS polygon_id FROM near
    """


def q_closest_edge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: nearest query-quad boundary per supplier point — shape-index
    ring probe + pure-JVM edge chord distance + ring-bound completeness
    (brute fallback for far queries), reduced to (point, nearest shape)."""
    from .operators import closestedge
    from .operators import shapes as shape_ops

    shapes = local_df(spark, 
        [(pid, _quad_text(*spec)) for pid, spec in PIP_QUADS.items()],
        "shape_id string, text string",
    ).coalesce(1)
    idx = shape_ops.shape_index_df(shapes, min_level=4)
    supp = tables.load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k"),
        geo.lat_col("s_suppkey").alias("lat"),
        geo.lng_col("s_suppkey").alias("lng"),
    )
    # interiors=shapes exercises Options.includeInteriors
    # (S2BestEdgesQueryBase.java:399,410): contained queries rank an
    # interior zero-distance result first (edge_id = -1 == isInterior).
    out = closestedge.closest_edges(
        idx, supp, k=1, level=4, query_id="k", interiors=shapes
    )
    return out.select(
        F.col("query_id").alias("k"),
        F.col("shape_id").alias("polygon_id"),
        (F.col("edge_id") < 0).alias("is_interior"),
    )


def q_closest_edge_oracle() -> str:
    # Interior results mirror the kernel: a query strictly inside a convex
    # quad (all boundary dets positive — same construction as the PIP
    # oracle) ranks at distance 0.0 for that quad; fixture boundaries sit
    # off the 0.01-degree synthetic grid so no point lies ON a boundary.
    dist_rows = " UNION ALL ".join(
        f"SELECT k, '{pid}' AS pid, ({expr}) AS dist FROM p"
        for pid, expr in _edge_distance_sql("x", "y", "z")
    )
    return f"""
    WITH p AS (SELECT k, {_XYZ_SQL} FROM ({_latlng_sql('supplier', 's_suppkey')})),
    e(pid, ax, ay, az, bx, by, bz) AS (VALUES {_quad_edges_sql_values()}),
    dets AS (SELECT p.k, e.pid,
        (ax*(by*z - bz*y) + ay*(bz*x - bx*z) + az*(bx*y - by*x)) AS det
        FROM p CROSS JOIN e),
    inside AS (SELECT k, pid FROM dets GROUP BY k, pid HAVING bool_and(det > 0)),
    d AS ({dist_rows}),
    d2 AS (SELECT d.k, d.pid,
        CASE WHEN i.pid IS NOT NULL THEN 0.0 ELSE d.dist END AS dist,
        (i.pid IS NOT NULL) AS is_interior
        FROM d LEFT JOIN inside i ON d.k = i.k AND d.pid = i.pid),
    ranked AS (SELECT k, pid, is_interior,
        row_number() OVER (PARTITION BY k ORDER BY dist, pid) AS rn FROM d2)
    SELECT k, pid AS polygon_id, is_interior FROM ranked WHERE rn = 1
    """


def q_furthest_edge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 furthest tier: FARTHEST query-quad boundary per supplier point
    (S2FurthestEdgeQuery over S2BestEdgesQueryBase) via the antipode
    identity — the operator negates the query points and reuses the
    closest-edge ring search; reduced to (point, furthest shape)."""
    from .operators import closestedge
    from .operators import shapes as shape_ops

    shapes = local_df(spark,
        [(pid, _quad_text(*spec)) for pid, spec in PIP_QUADS.items()],
        "shape_id string, text string",
    ).coalesce(1)
    idx = shape_ops.shape_index_df(shapes, min_level=4)
    supp = tables.load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k"),
        geo.lat_col("s_suppkey").alias("lat"),
        geo.lng_col("s_suppkey").alias("lng"),
    )
    # interiors=shapes: a quad containing the query's ANTIPODE yields a
    # maximum-distance interior result (S2FurthestEdgeQuery.java:369-381)
    out = closestedge.furthest_edges(
        idx, supp, k=1, level=4, query_id="k", interiors=shapes
    )
    return out.select(
        F.col("query_id").alias("k"),
        F.col("shape_id").alias("polygon_id"),
        (F.col("edge_id") < 0).alias("is_interior"),
    )


def q_furthest_edge_oracle() -> str:
    """Antipode identity in SQL: max chord2 to an edge set = 4 - min
    chord2 from (-x,-y,-z), so the furthest polygon is the one with the
    smallest antipode min-distance (the same _edge_distance_sql kernel as
    the closest_edge oracle, evaluated at the negated point). Interior
    results mirror furthest_edges: a quad strictly containing the antipode
    (all dets positive at the negated point) ranks at antipode-distance
    0.0 — i.e. the full sphere diameter."""
    dist_rows = " UNION ALL ".join(
        f"SELECT k, '{pid}' AS pid, ({expr}) AS dist FROM p"
        for pid, expr in _edge_distance_sql("(-x)", "(-y)", "(-z)")
    )
    return f"""
    WITH p AS (SELECT k, {_XYZ_SQL} FROM ({_latlng_sql('supplier', 's_suppkey')})),
    e(pid, ax, ay, az, bx, by, bz) AS (VALUES {_quad_edges_sql_values()}),
    dets AS (SELECT p.k, e.pid,
        (ax*(by*(-z) - bz*(-y)) + ay*(bz*(-x) - bx*(-z))
         + az*(bx*(-y) - by*(-x))) AS det
        FROM p CROSS JOIN e),
    inside AS (SELECT k, pid FROM dets GROUP BY k, pid HAVING bool_and(det > 0)),
    d AS ({dist_rows}),
    d2 AS (SELECT d.k, d.pid,
        CASE WHEN i.pid IS NOT NULL THEN 0.0 ELSE d.dist END AS dist,
        (i.pid IS NOT NULL) AS is_interior
        FROM d LEFT JOIN inside i ON d.k = i.k AND d.pid = i.pid),
    ranked AS (SELECT k, pid, is_interior,
        row_number() OVER (PARTITION BY k ORDER BY dist, pid) AS rn FROM d2)
    SELECT k, pid AS polygon_id, is_interior FROM ranked WHERE rn = 1
    """


CROSS_SHIFT = (3.0017, 3.0029)  # off-grid shift for the crossing-pairs B set


def _projection_chain() -> np.ndarray:
    """Fixture polyline for the chain-projection gate: the PIP quad
    centers in registry order (5 geodesic edges spanning the globe)."""
    pts = [(clat, clng) for (clat, clng, _h) in PIP_QUADS.values()]
    return rg.Polyline.from_latlng_degrees(pts).vertices


def q_chain_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8/F8 gate: S2Polyline.project — nearest chain edge (and its next
    vertex) per supplier point, via one Arrow-batched kernel UDF; the
    oracle ranks the per-edge A21 distance SQL (op-identical to the
    kernel, so the argmin matches bit-for-bit)."""
    from .operators import edgequeries

    supp = tables.load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k"),
        geo.lat_col("s_suppkey").alias("lat"),
        geo.lng_col("s_suppkey").alias("lng"),
    )
    out = edgequeries.project_points_to_chain(
        supp, _projection_chain(), point_id="k", lat="lat", lng="lng"
    )
    return out.select(F.col("point_id").alias("k"), "edge_idx", "next_vertex")


def q_chain_project_oracle() -> str:
    chain = _projection_chain()
    edge_rows = " UNION ALL ".join(
        f"SELECT k, {i} AS edge_idx, "
        f"({_edge_term_sql(chain[i], chain[i + 1], 'x', 'y', 'z')}) AS dist FROM p"
        for i in range(len(chain) - 1)
    )
    return f"""
    WITH p AS (SELECT k, {_XYZ_SQL} FROM ({_latlng_sql('supplier', 's_suppkey')})),
    d AS ({edge_rows}),
    r AS (SELECT k, edge_idx,
        row_number() OVER (PARTITION BY k ORDER BY dist, edge_idx) AS rn FROM d)
    SELECT k, edge_idx, edge_idx + 1 AS next_vertex FROM r WHERE rn = 1
    """


def q_edge_target_closest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 edge-target tier (S2ClosestEdgeQuery.EdgeTarget): the nearest
    PIP-quad boundary edge per QUERY EDGE (50 deterministic orders-derived
    edges); edge-pair distance = 0 on crossing else min of the four
    endpoint-to-edge distances. The oracle replicates both directions of
    the endpoint distances (constant- and symbolic-edge A21 SQL) plus the
    4-sign crossing test, so the argmin matches bit-for-bit."""
    from .operators import edgequeries

    edges = []
    for pid, poly in pip_polygons().items():
        v = poly.loops[0].vertices
        for k in range(len(v)):
            edges.append((pid, k, v[k], v[(k + 1) % len(v)]))
    q = (
        tables.load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 50)
        .select(
            F.col("o_orderkey").alias("qid"),
            geo.lat_col("o_orderkey").alias("lat0"),
            geo.lng_col("o_orderkey").alias("lng0"),
            geo.lat_col(F.col("o_orderkey") + 7).alias("lat1"),
            geo.lng_col(F.col("o_orderkey") + 7).alias("lng1"),
        )
    )
    return edgequeries.closest_index_edge_to_edges(q, edges, query_id="qid")


def q_edge_target_closest_oracle() -> str:
    def d(v: float) -> str:
        return f"CAST({v!r} AS DOUBLE)"

    rows = []
    for pid, poly in pip_polygons().items():
        v = poly.loops[0].vertices
        for k in range(len(v)):
            a, b = v[k], v[(k + 1) % len(v)]
            # forward terms: query endpoints to the CONSTANT index edge
            fwd0 = _edge_term_sql(a, b, "x0", "y0", "z0")
            fwd1 = _edge_term_sql(a, b, "x1", "y1", "z1")
            # reverse terms: constant index endpoints to the QUERY edge
            rev0 = _edge_term_sql_sym(
                "x0", "y0", "z0", "x1", "y1", "z1", d(a[0]), d(a[1]), d(a[2])
            )
            rev1 = _edge_term_sql_sym(
                "x0", "y0", "z0", "x1", "y1", "z1", d(b[0]), d(b[1]), d(b[2])
            )
            det = (
                "({px}*(({qy})*({rz}) - ({qz})*({ry}))"
                " + {py}*(({qz})*({rx}) - ({qx})*({rz}))"
                " + {pz}*(({qx})*({ry}) - ({qy})*({rx})))"
            )

            def s(p, q_, r):
                coords = {
                    "q0": ("x0", "y0", "z0"), "q1": ("x1", "y1", "z1"),
                    "ea": (d(a[0]), d(a[1]), d(a[2])),
                    "eb": (d(b[0]), d(b[1]), d(b[2])),
                }
                P, Q, R = coords[p], coords[q_], coords[r]
                return "sign(" + det.format(
                    px=P[0], py=P[1], pz=P[2],
                    qx=Q[0], qy=Q[1], qz=Q[2],
                    rx=R[0], ry=R[1], rz=R[2],
                ) + ")"

            acb, bda = s("q0", "ea", "q1"), s("q1", "eb", "q0")
            cbd, dac = s("ea", "q1", "eb"), s("eb", "q0", "ea")
            crossing = (
                f"({acb} = {bda} AND {acb} = {cbd} AND {acb} = {dac}"
                f" AND {acb} <> 0)"
            )
            rows.append(
                f"SELECT qid, '{pid}' AS shape_id, {k} AS edge_id, "
                f"(CASE WHEN {crossing} THEN 0.0 ELSE "
                f"least({fwd0}, {fwd1}, {rev0}, {rev1}) END) AS dist FROM q"
            )
    edge_rows = " UNION ALL ".join(rows)
    return f"""
    WITH q0 AS (SELECT o_orderkey AS qid,
        {geo.lat_sql('o_orderkey')} AS la0, {geo.lng_sql('o_orderkey')} AS ln0,
        {geo.lat_sql('(o_orderkey + 7)')} AS la1,
        {geo.lng_sql('(o_orderkey + 7)')} AS ln1
        FROM orders WHERE o_orderkey < 50),
    q AS (SELECT qid,
        cos(radians(la0))*cos(radians(ln0)) AS x0,
        cos(radians(la0))*sin(radians(ln0)) AS y0,
        sin(radians(la0)) AS z0,
        cos(radians(la1))*cos(radians(ln1)) AS x1,
        cos(radians(la1))*sin(radians(ln1)) AS y1,
        sin(radians(la1)) AS z1
        FROM q0),
    dists AS ({edge_rows}),
    r AS (SELECT qid, shape_id, edge_id,
        row_number() OVER (PARTITION BY qid
            ORDER BY dist, shape_id, edge_id) AS rn FROM dists)
    SELECT qid AS query_id, shape_id, edge_id FROM r WHERE rn = 1
    """


def _relation_b_fixtures() -> dict[str, tuple[float, float, float]]:
    """B-set for the polygon_relations gate: per PIP quad a strictly
    nested copy (0.45*h) and an overlapping shifted copy."""
    out = {}
    for pid, (clat, clng, h) in PIP_QUADS.items():
        out[pid + "_in"] = (clat, clng, 0.45 * h)
        out[pid + "_ov"] = (clat + CROSS_SHIFT[0], clng + CROSS_SHIFT[1], h)
    return out


def q_polygon_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1/API gate: region relations (contains / contained / intersects,
    S2Polygon.contains/intersects semantics) for every (quad, fixture)
    pair through the distributed boolean-kernel operator; the oracle
    decides the same relations with convex-quad determinant SQL (all
    vertices strictly inside = containment; vertex-in or proper edge
    crossing = intersection)."""
    from .operators import booleanops as bpo

    sa = local_df(
        spark,
        [(pid, _quad_text(*spec)) for pid, spec in PIP_QUADS.items()],
        "shape_id string, text string",
    ).coalesce(1)
    sb = local_df(
        spark,
        [(pid, _quad_text(*spec)) for pid, spec in _relation_b_fixtures().items()],
        "shape_id string, text string",
    ).coalesce(1)
    return bpo.polygon_relations(sa, sb)


def q_polygon_relations_oracle() -> str:
    def vert_rows(fixtures):
        rows = []
        for pid, spec in fixtures.items():
            poly = _quad_polygon(*spec)
            for k, v in enumerate(poly.loops[0].vertices):
                rows.append(
                    f"('{pid}',{k},CAST({v[0]!r} AS DOUBLE),"
                    f"CAST({v[1]!r} AS DOUBLE),CAST({v[2]!r} AS DOUBLE))"
                )
        return rows

    ea_rows = [
        _poly_edges_values(_quad_polygon(*spec), pid)
        for pid, spec in PIP_QUADS.items()
    ]
    eb_rows = [
        _poly_edges_values(_quad_polygon(*spec), pid)
        for pid, spec in _relation_b_fixtures().items()
    ]
    va_rows = vert_rows(PIP_QUADS)
    vb_rows = vert_rows(_relation_b_fixtures())
    det = "(ax*(by*z - bz*y) + ay*(bz*x - bx*z) + az*(bx*y - by*x))"
    cdet = (
        "({px}*(({qy})*({rz}) - ({qz})*({ry})) + {py}*(({qz})*({rx}) - ({qx})*({rz}))"
        " + {pz}*(({qx})*({ry}) - ({qy})*({rx})))"
    )

    def s(p, q, r):
        return "sign(" + cdet.format(
            px=f"{p}x", py=f"{p}y", pz=f"{p}z",
            qx=f"{q}x", qy=f"{q}y", qz=f"{q}z",
            rx=f"{r}x", ry=f"{r}y", rz=f"{r}z",
        ) + ")"

    acb, bda = s("a", "c", "b"), s("b", "d", "a")
    cbd, dac = s("c", "b", "d"), s("d", "a", "c")
    return f"""
    WITH ea(pid, ax, ay, az, bx, by, bz) AS (VALUES {",".join(ea_rows)}),
    eb(pid, ax, ay, az, bx, by, bz) AS (VALUES {",".join(eb_rows)}),
    va(pid, k, x, y, z) AS (VALUES {",".join(va_rows)}),
    vb(pid, k, x, y, z) AS (VALUES {",".join(vb_rows)}),
    -- per (pair, vertex): vertex strictly inside the other CONVEX quad
    -- (all edge determinants positive), then all/any per pair
    b_in_a_v AS (SELECT ea.pid AS a_id, vb.pid AS b_id, vb.k,
        bool_and({det} > 0) AS inside
        FROM vb CROSS JOIN ea GROUP BY ea.pid, vb.pid, vb.k),
    b_in_a AS (SELECT a_id, b_id, bool_and(inside) AS allv,
        bool_or(inside) AS anyv FROM b_in_a_v GROUP BY a_id, b_id),
    a_in_b_v AS (SELECT va.pid AS a_id, eb.pid AS b_id, va.k,
        bool_and({det} > 0) AS inside
        FROM va CROSS JOIN eb GROUP BY eb.pid, va.pid, va.k),
    a_in_b AS (SELECT a_id, b_id, bool_and(inside) AS allv,
        bool_or(inside) AS anyv FROM a_in_b_v GROUP BY a_id, b_id),
    crossing AS (SELECT A.pid AS a_id, B.pid AS b_id,
        bool_or({acb} = {bda} AND {acb} = {cbd} AND {acb} = {dac}
                AND {acb} <> 0) AS x
        FROM (SELECT pid, ax, ay, az, bx, by, bz FROM ea) A
        CROSS JOIN (SELECT pid, ax AS cx, ay AS cy, az AS cz,
                           bx AS dx, by AS dy, bz AS dz FROM eb) B
        GROUP BY A.pid, B.pid)
    SELECT b_in_a.a_id, b_in_a.b_id,
           b_in_a.allv AS contains,
           a_in_b.allv AS contained,
           (b_in_a.anyv OR a_in_b.anyv OR crossing.x) AS intersects
    FROM b_in_a
    JOIN a_in_b ON a_in_b.a_id = b_in_a.a_id AND a_in_b.b_id = b_in_a.b_id
    JOIN crossing ON crossing.a_id = b_in_a.a_id AND crossing.b_id = b_in_a.b_id
    """


def _shifted_quad_text(clat: float, clng: float, h: float) -> str:
    return _quad_text(clat + CROSS_SHIFT[0], clng + CROSS_SHIFT[1], h)


def q_crossing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: all crossing edge pairs between the query quads and a B set of
    shifted + exact copies — shape-index cell join + four-determinant
    Column test, CrossingType.ALL (shared-vertex touches carry
    is_interior=false, S2CrossingEdgesQuery.java:236-247)."""
    from .operators import edgequeries
    from .operators import shapes as shape_ops

    shapes_a = local_df(spark,
        [(pid, _quad_text(*spec)) for pid, spec in PIP_QUADS.items()],
        "shape_id string, text string",
    ).coalesce(1)
    shapes_b = local_df(spark,
        [(pid + "s", _shifted_quad_text(*spec)) for pid, spec in PIP_QUADS.items()]
        + [(pid + "c", _quad_text(*spec)) for pid, spec in PIP_QUADS.items()],
        "shape_id string, text string",
    ).coalesce(1)
    idx_a = shape_ops.shape_index_df(shapes_a, min_level=6)
    idx_b = shape_ops.shape_index_df(shapes_b, min_level=6)
    return edgequeries.crossing_edge_pairs(
        idx_a, idx_b, level=6, crossing_type="all"
    )


def q_crossing_pairs_oracle() -> str:
    def d(x: float) -> str:
        return f"CAST({x!r} AS DOUBLE)"

    rows_a = []
    for pid, poly in pip_polygons().items():
        v = poly.loops[0].vertices
        for k in range(len(v)):
            a, b = v[k], v[(k + 1) % len(v)]
            rows_a.append(
                f"('{pid}',{k},{d(a[0])},{d(a[1])},{d(a[2])},{d(b[0])},{d(b[1])},{d(b[2])})"
            )
    rows_b = []
    for pid, spec in PIP_QUADS.items():
        for suffix, poly in (
            ("s", _quad_polygon(
                spec[0] + CROSS_SHIFT[0], spec[1] + CROSS_SHIFT[1], spec[2])),
            ("c", _quad_polygon(*spec)),
        ):
            v = poly.loops[0].vertices
            for k in range(len(v)):
                a, b = v[k], v[(k + 1) % len(v)]
                rows_b.append(
                    f"('{pid}{suffix}',{k},{d(a[0])},{d(a[1])},{d(a[2])},{d(b[0])},{d(b[1])},{d(b[2])})"
                )
    det = (
        "({px}*(({qy})*({rz}) - ({qz})*({ry})) + {py}*(({qz})*({rx}) - ({qx})*({rz}))"
        " + {pz}*(({qx})*({ry}) - ({qy})*({rx})))"
    )

    def s(p, q, r):
        return "sign(" + det.format(
            px=f"{p}x", py=f"{p}y", pz=f"{p}z",
            qx=f"{q}x", qy=f"{q}y", qz=f"{q}z",
            rx=f"{r}x", ry=f"{r}y", rz=f"{r}z",
        ) + ")"

    acb, bda, cbd, dac = s("a", "c", "b"), s("b", "d", "a"), s("c", "b", "d"), s("d", "a", "c")
    # shared vertex (exact double equality) == robustCrossing 0; decided
    # BEFORE the sign tier, mirroring crossing_edge_pairs
    shared = " OR ".join(
        f"({p}x = {q}x AND {p}y = {q}y AND {p}z = {q}z)"
        for p, q in (("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"))
    )
    return f"""
    WITH ea(a_shape, a_edge, ax, ay, az, bx, by, bz) AS (VALUES {",".join(rows_a)}),
    eb(b_shape, b_edge, cx, cy, cz, dx, dy, dz) AS (VALUES {",".join(rows_b)})
    SELECT a_shape, CAST(a_edge AS INTEGER) AS a_edge,
           b_shape, CAST(b_edge AS INTEGER) AS b_edge,
           NOT ({shared}) AS is_interior
    FROM ea CROSS JOIN eb
    WHERE ({shared})
       OR ({acb} = {bda} AND {acb} = {cbd} AND {acb} = {dac} AND {acb} <> 0)
    """


def q_hausdorff_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: directed discrete Hausdorff witness — per query quad, the
    supplier point FARTHEST from the quad boundary (argmax of min edge
    distance; integer output keeps the gate FP-robust)."""
    from .operators import edgequeries
    from .operators import shapes as shape_ops

    shapes = local_df(spark, 
        [(pid, _quad_text(*spec)) for pid, spec in PIP_QUADS.items()],
        "shape_id string, text string",
    ).coalesce(1)
    idx = shape_ops.shape_index_df(shapes)
    supp = tables.load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k"),
        geo.lat_col("s_suppkey").alias("lat"),
        geo.lng_col("s_suppkey").alias("lng"),
    )
    out = edgequeries.directed_hausdorff(supp, idx, point_id="k")
    return out.select("shape_id", "worst_point_id")


def q_hausdorff_witness_oracle() -> str:
    dist_rows = " UNION ALL ".join(
        f"SELECT k, '{pid}' AS shape_id, ({expr}) AS dist FROM p"
        for pid, expr in _edge_distance_sql("x", "y", "z")
    )
    return f"""
    WITH p AS (SELECT k, {_XYZ_SQL} FROM ({_latlng_sql('supplier', 's_suppkey')})),
    d AS ({dist_rows}),
    ranked AS (SELECT shape_id, k,
        row_number() OVER (PARTITION BY shape_id ORDER BY dist DESC, k) AS rn FROM d)
    SELECT shape_id, k AS worst_point_id FROM ranked WHERE rn = 1
    """


def q_chain_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: per-nation customer chains interpolated at 25/50/75% of their
    geodesic length — window cumulative lengths + getPointOnLine rotation,
    all JVM; output xyz quantized to 1e-6 (FP-robust)."""
    from .operators import edgequeries

    chains = tables.load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("chain_id"),
        F.col("c_custkey").alias("seq"),
        geo.lat_col("c_custkey").alias("lat"),
        geo.lng_col("c_custkey").alias("lng"),
    )
    out = edgequeries.chain_interpolate(chains, [0.25, 0.5, 0.75])
    q = lambda c: F.round(c * 1000000).cast("long")  # noqa: E731
    return out.select(
        "chain_id",
        "frac_pct",
        q(F.col("x")).alias("xq"),
        q(F.col("y")).alias("yq"),
        q(F.col("z")).alias("zq"),
    )


def q_chain_interp_oracle() -> str:
    return f"""
    WITH ll AS (SELECT c_nationkey AS chain_id, c_custkey AS seq,
                       {geo.lat_sql('c_custkey')} AS lat, {geo.lng_sql('c_custkey')} AS lng
                FROM customer),
    p AS (SELECT chain_id, seq, {_XYZ_SQL} FROM ll),
    e0 AS (SELECT chain_id, seq, x AS ax, y AS ay, z AS az,
        lead(x) OVER (PARTITION BY chain_id ORDER BY seq) AS bx,
        lead(y) OVER (PARTITION BY chain_id ORDER BY seq) AS by,
        lead(z) OVER (PARTITION BY chain_id ORDER BY seq) AS bz
        FROM p),
    e1 AS (SELECT *, 2.0 * asin(0.5 * sqrt((ax-bx)*(ax-bx) + (ay-by)*(ay-by)
                                           + (az-bz)*(az-bz))) AS elen
           FROM e0 WHERE bx IS NOT NULL),
    e2 AS (SELECT *,
        COALESCE(SUM(elen) OVER (PARTITION BY chain_id ORDER BY seq
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cum_before,
        SUM(elen) OVER (PARTITION BY chain_id) AS total
        FROM e1),
    fr(frac_pct, frac) AS (VALUES (25, 0.25), (50, 0.5), (75, 0.75)),
    cand AS (SELECT e2.*, fr.frac_pct, fr.frac,
        row_number() OVER (PARTITION BY chain_id, frac_pct ORDER BY seq) AS rn
        FROM e2 CROSS JOIN fr
        WHERE cum_before <= frac * total AND frac * total < cum_before + elen),
    sel AS (SELECT *, frac * total - cum_before AS r,
        (by+ay)*(bz-az) - (bz+az)*(by-ay) AS n0,
        (bz+az)*(bx-ax) - (bx+ax)*(bz-az) AS n1,
        (bx+ax)*(by-ay) - (by+ay)*(bx-ax) AS n2
        FROM cand WHERE rn = 1),
    dvec AS (SELECT chain_id, frac_pct, r, ax, ay, az,
        n1*az - n2*ay AS d0, n2*ax - n0*az AS d1, n0*ay - n1*ax AS d2
        FROM sel),
    pt AS (SELECT chain_id, frac_pct,
        cos(r)*ax + sin(r)*d0/sqrt(d0*d0 + d1*d1 + d2*d2) AS ox,
        cos(r)*ay + sin(r)*d1/sqrt(d0*d0 + d1*d1 + d2*d2) AS oy,
        cos(r)*az + sin(r)*d2/sqrt(d0*d0 + d1*d1 + d2*d2) AS oz
        FROM dvec)
    SELECT chain_id, frac_pct,
      CAST(round(1000000 * ox / sqrt(ox*ox + oy*oy + oz*oz)) AS BIGINT) AS xq,
      CAST(round(1000000 * oy / sqrt(ox*ox + oy*oy + oz*oz)) AS BIGINT) AS yq,
      CAST(round(1000000 * oz / sqrt(ox*ox + oy*oy + oz*oz)) AS BIGINT) AS zq
    FROM pt
    """


def q_buffered_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8: orders points inside the BUFFERED first query quad — the
    coverer runs over the BufferedRegion view (triangle-inequality cell
    tests), membership joins the covering, the exact buffered contains
    refines. Same exact semantics as inside-or-within-radius."""
    poly = _quad_polygon(*PIP_QUADS["p0"])
    reg = rg.BufferedRegion(poly, NEAR_POLY_RADIUS_RAD)
    ids = cov.RegionCoverer(max_cells=16).get_covering(reg)
    pts = _points_from_keys(tables.load_table(spark, sf_dir, "orders"), "o_orderkey")
    pts = pts.withColumn(
        "leaf", udfs.cell_id_from_latlng_deg(F.col("lat"), F.col("lng"), 30)
    )
    cand = _covering_members(spark, pts, s2.to_signed(ids))
    dist = tolerant.make_polygon_distance_udf({"p0": poly})
    threshold = float(sphere.chord2_from_angle(NEAR_POLY_RADIUS_RAD))
    return cand.where(
        dist(F.lit("p0"), F.col("lat"), F.col("lng")) <= F.lit(threshold)
    ).select("k")


def q_buffered_region_oracle() -> str:
    threshold = float(sphere.chord2_from_angle(NEAR_POLY_RADIUS_RAD))
    p0_expr = dict(_edge_distance_sql("x", "y", "z"))["p0"]
    return f"""
    WITH p AS (SELECT k, {_XYZ_SQL} FROM ({_latlng_sql('orders', 'o_orderkey')})),
    e(pid, ax, ay, az, bx, by, bz) AS (VALUES {_quad_edges_sql_values()}),
    dets AS (SELECT p.k,
        (ax*(by*z - bz*y) + ay*(bz*x - bx*z) + az*(bx*y - by*x)) AS det
        FROM p CROSS JOIN e WHERE e.pid = 'p0'),
    inside AS (SELECT k FROM dets GROUP BY k HAVING bool_and(det > 0)),
    near AS (SELECT k FROM p WHERE ({p0_expr}) <= {threshold!r})
    SELECT k FROM inside UNION SELECT k FROM near
    """


# G1 boolean-op gate geometry: two overlapping off-grid quads.
BOOL_A = (20.0043, 30.0021, 6.0)
BOOL_B = (24.0043, 34.0021, 6.0)


def _poly_edges_values(poly: rg.Polygon, pid: str) -> str:
    rows = []
    for lp in poly.loops:
        v = lp.vertices
        for k in range(len(v)):
            a, b = v[k], v[(k + 1) % len(v)]
            rows.append(
                f"('{pid}',CAST({a[0]!r} AS DOUBLE),CAST({a[1]!r} AS DOUBLE),"
                f"CAST({a[2]!r} AS DOUBLE),CAST({b[0]!r} AS DOUBLE),"
                f"CAST({b[1]!r} AS DOUBLE),CAST({b[2]!r} AS DOUBLE))"
            )
    return ",".join(rows)


def _q_boolean(spark: SparkSession, sf_dir: str, op: str) -> DataFrame:
    """The boolean-op polygon is CONSTRUCTED by the G1 kernel, then points
    are tested against the RESULT via the standard PIP join — membership
    must equal the SQL combination of the two input memberships."""
    from .kernel import booleanop as bo

    result = bo.boolean_op(_quad_polygon(*BOOL_A), _quad_polygon(*BOOL_B), op)
    pts = _points_from_keys(tables.load_table(spark, sf_dir, "orders"), "o_orderkey")
    return (
        pip.pip_join(spark, pts, {op: result}, point_id="k")
        .select(F.col("point_id").alias("k"))
    )


def q_boolean_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q_boolean(spark, sf_dir, "intersection")


def q_boolean_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q_boolean(spark, sf_dir, "difference")


def _q_boolean_oracle(op: str) -> str:
    ea = _poly_edges_values(_quad_polygon(*BOOL_A), "a")
    eb = _poly_edges_values(_quad_polygon(*BOOL_B), "b")
    combine = "INTERSECT" if op == "intersection" else "EXCEPT"
    return f"""
    WITH p AS (SELECT k, {_XYZ_SQL} FROM ({_latlng_sql('orders', 'o_orderkey')})),
    ea(pid, ax, ay, az, bx, by, bz) AS (VALUES {ea}),
    eb(pid, ax, ay, az, bx, by, bz) AS (VALUES {eb}),
    ia AS (SELECT k FROM (SELECT p.k,
            (ax*(by*z - bz*y) + ay*(bz*x - bx*z) + az*(bx*y - by*x)) AS det
            FROM p CROSS JOIN ea) GROUP BY k HAVING bool_and(det > 0)),
    ib AS (SELECT k FROM (SELECT p.k,
            (ax*(by*z - bz*y) + ay*(bz*x - bx*z) + az*(bx*y - by*x)) AS det
            FROM p CROSS JOIN eb) GROUP BY k HAVING bool_and(det > 0))
    SELECT k FROM ia {combine} SELECT k FROM ib
    """


# Degenerate boolean gate geometry: two quads sharing a FULL meridian edge
# (and both its endpoint vertices) — rejected by the generic-position path,
# handled by the snap-rounding path.
_BOOL_DEGEN_A = [(14.0, 24.0), (14.0, 36.0), (26.0, 36.0), (26.0, 24.0)]
_BOOL_DEGEN_B = [(14.0, 36.0), (14.0, 48.0), (26.0, 48.0), (26.0, 36.0)]
# C shares exactly ONE vertex with A (26,36); its left meridian edge is the
# collinear continuation of A's right edge, so the closed intersection of
# A and C is exactly that point.
_BOOL_DEGEN_C = [(26.0, 36.0), (26.0, 44.0), (32.0, 44.0), (32.0, 36.0)]

#: probes for the mixed-output (CLOSED-model) tier: on the shared edge,
#: at its endpoints, at the shared vertex, and clearly off on every side.
_DEGEN_PROBES = [
    (0, 16.0, 36.0), (1, 18.0, 36.0), (2, 20.0, 36.0), (3, 24.0, 36.0),
    (4, 14.0, 36.0), (5, 26.0, 36.0),       # shared-edge endpoints
    (6, 20.0, 30.0), (7, 20.0, 42.0),       # strictly inside A / B only
    (8, 8.0, 36.0), (9, 29.0, 40.0),        # outside A&B / inside C only
    (10, 28.0, 36.0),                        # on C's left edge, not on A
]


def _degen_poly(pts):
    return rg.Polygon([rg.Loop.from_latlng_degrees(pts)])


def q_boolean_degenerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1/G2 gate: boolean ops on a shared-edge polygon pair (the
    S2PolygonTest OVERLAP-style degenerate case) constructed by the
    snap-rounding path, then membership-checked against the orders points
    via the standard PIP join. Rows: (k, op) for each op whose result
    contains the point; intersection is empty by construction (the shared
    edge regularizes away) and contributes no rows on either side.

    MIXED-OUTPUT tier (round 4): boolean_op_mixed under the CLOSED model
    (S2BooleanOperation polygon models + S2ClosedSetNormalizer) on the
    shared-edge pair (a,b) and the shared-vertex pair (a,c). The emitted
    degenerate edges/points are value-checked by probe membership: a probe
    is in the closed intersection iff it lies on an emitted degenerate
    element (or in the regularized polygon) — compared against the SQL
    closed-membership (dets >= -eps) of both inputs. Probe k-space is
    offset by 1e9/2e9 to stay disjoint from order keys."""
    from .kernel import booleanop as bo
    from .kernel import edges as ekr

    a = _degen_poly(_BOOL_DEGEN_A)
    b = _degen_poly(_BOOL_DEGEN_B)
    c = _degen_poly(_BOOL_DEGEN_C)
    pts = _points_from_keys(tables.load_table(spark, sf_dir, "orders"), "o_orderkey")
    out = None
    for op in ("union", "difference", "symmetric_difference", "intersection"):
        result = bo.boolean_op(a, b, op)
        if not result.loops:
            continue
        rows = pip.pip_join(spark, pts, {op: result}, point_id="k").select(
            F.col("point_id").alias("k"), F.col("polygon_id").alias("op")
        )
        out = rows if out is None else out.unionByName(rows)

    mixed_rows = []
    for tag, other, base in (("ab", b, 10**9), ("ac", c, 2 * 10**9)):
        poly_m, de, dp = bo.boolean_op_mixed(a, other, "intersection")
        for pid, la, ln in _DEGEN_PROBES:
            p = np.ravel(s2.latlng_to_xyz(np.radians(la), np.radians(ln)))
            inside = bool(
                poly_m.loops
                and poly_m.contains_points(p[0:1], p[1:2], p[2:3])[0]
            )
            for e0, e1 in de:
                if inside:
                    break
                d2 = float(np.atleast_1d(ekr.min_chord2_to_edges(p, e0, e1))[0])
                inside = d2 < 1e-24
            for q in dp:
                if inside:
                    break
                inside = float(((p - q) ** 2).sum()) < 1e-24
            if inside:
                mixed_rows.append((base + pid, f"degen_{tag}"))

    # OPEN-model tier: membership in the open union of (a,b) = regularized
    # polygon minus cracks/punctures (boolean_op_mixed model="open"); the
    # oracle is strict (det > eps) membership in either input. Probes on
    # the shared edge sit on a crack and are excluded deterministically,
    # so on-boundary contains_points FP noise never decides a row.
    poly_o, cracks, punctures = bo.boolean_op_mixed(a, b, "union", model="open")
    for pid, la, ln in _DEGEN_PROBES:
        p = np.ravel(s2.latlng_to_xyz(np.radians(la), np.radians(ln)))
        on_crack = any(
            float(np.atleast_1d(ekr.min_chord2_to_edges(p, e0, e1))[0]) < 1e-24
            for e0, e1 in cracks
        ) or any(float(((p - q) ** 2).sum()) < 1e-24 for q in punctures)
        member = (
            not on_crack
            and bool(poly_o.loops)
            and bool(poly_o.contains_points(p[0:1], p[1:2], p[2:3])[0])
        )
        if member:
            mixed_rows.append((3 * 10**9 + pid, "open_ab"))
    return out.unionByName(local_df(spark, mixed_rows, "k long, op string"))


def q_boolean_degenerate_oracle() -> str:
    ea = _poly_edges_values(_degen_poly(_BOOL_DEGEN_A), "a")
    eb = _poly_edges_values(_degen_poly(_BOOL_DEGEN_B), "b")
    ec = _poly_edges_values(_degen_poly(_BOOL_DEGEN_C), "c")
    probes = ", ".join(f"({pid}, {la!r}, {ln!r})" for pid, la, ln in _DEGEN_PROBES)
    det = "(ax*(by*z - bz*y) + ay*(bz*x - bx*z) + az*(bx*y - by*x))"
    return f"""
    WITH p AS (SELECT k, {_XYZ_SQL} FROM ({_latlng_sql('orders', 'o_orderkey')})),
    ea(pid, ax, ay, az, bx, by, bz) AS (VALUES {ea}),
    eb(pid, ax, ay, az, bx, by, bz) AS (VALUES {eb}),
    ec(pid, ax, ay, az, bx, by, bz) AS (VALUES {ec}),
    ia AS (SELECT k FROM (SELECT p.k, {det} AS det
            FROM p CROSS JOIN ea) GROUP BY k HAVING bool_and(det > 0)),
    ib AS (SELECT k FROM (SELECT p.k, {det} AS det
            FROM p CROSS JOIN eb) GROUP BY k HAVING bool_and(det > 0)),
    dprobes0(pid, lat, lng) AS (VALUES {probes}),
    dp AS (SELECT pid AS k, {_XYZ_SQL} FROM dprobes0 p0
           -- reuse the shared lat/lng->xyz expression via aliasing
           ),
    -- CLOSED membership: every edge determinant >= -eps (boundary points
    -- have det ~ 0 in FP; off probes are degrees away)
    ca AS (SELECT k FROM (SELECT dp.k, {det} AS det
            FROM dp CROSS JOIN ea) GROUP BY k HAVING bool_and(det >= -1e-12)),
    cb AS (SELECT k FROM (SELECT dp.k, {det} AS det
            FROM dp CROSS JOIN eb) GROUP BY k HAVING bool_and(det >= -1e-12)),
    cc AS (SELECT k FROM (SELECT dp.k, {det} AS det
            FROM dp CROSS JOIN ec) GROUP BY k HAVING bool_and(det >= -1e-12)),
    -- OPEN (strict) membership: every edge determinant > +eps, so
    -- boundary probes (det ~ 0) are excluded
    sa AS (SELECT k FROM (SELECT dp.k, {det} AS det
            FROM dp CROSS JOIN ea) GROUP BY k HAVING bool_and(det > 1e-12)),
    sb AS (SELECT k FROM (SELECT dp.k, {det} AS det
            FROM dp CROSS JOIN eb) GROUP BY k HAVING bool_and(det > 1e-12))
    SELECT k, 'union' AS op FROM (SELECT k FROM ia UNION SELECT k FROM ib)
    UNION ALL
    SELECT k, 'difference' AS op FROM (SELECT k FROM ia EXCEPT SELECT k FROM ib)
    UNION ALL
    SELECT k, 'symmetric_difference' AS op FROM (
        (SELECT k FROM ia EXCEPT SELECT k FROM ib)
        UNION (SELECT k FROM ib EXCEPT SELECT k FROM ia))
    UNION ALL
    SELECT 1000000000 + k, 'degen_ab' AS op FROM
        (SELECT k FROM ca INTERSECT SELECT k FROM cb)
    UNION ALL
    SELECT 2000000000 + k, 'degen_ac' AS op FROM
        (SELECT k FROM ca INTERSECT SELECT k FROM cc)
    UNION ALL
    SELECT 3000000000 + k, 'open_ab' AS op FROM
        (SELECT k FROM sa UNION SELECT k FROM sb)
    """


# boolean_pairs gate fixtures: quad corners (lat0, lat1, lng0, lng1); the
# (a0, b0) pair shares a full meridian edge (degenerate -> snap path); the
# (a1, b1) pair is disjoint with disjoint coverings (pruned by the join).
_BP_QUADS = {
    "a0": (14.0, 26.0, 24.0, 36.0),
    "a1": (14.0, 26.0, 40.0, 52.0),
    "b0": (14.0, 26.0, 36.0, 48.0),
    "b1": (16.0, 20.0, 26.0, 30.0),
}

#: probe grid chosen off every fixture edge (coordinates end in .05)
_BP_PROBES = [
    (i * 15 + j, 8.05 + 1.7 * i, 18.05 + 2.6 * j)
    for i in range(15)
    for j in range(15)
]


def _bp_quad_text(lat0, lat1, lng0, lng1):
    pts = [(lat0, lng0), (lat0, lng1), (lat1, lng1), (lat1, lng0)]
    return ", ".join(f"{float(la)!r}:{float(ln)!r}" for la, ln in pts)


def q_boolean_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 pair form (operators/booleanops.boolean_pairs): boolean ops over
    TABLES of shapes via the covering candidate join + executor-side pair
    kernel. Gated by probe-grid membership of every result polygon:
    non-candidate pairs default to the op's identity (empty for
    intersection, A for difference), so the row set covers the full
    a x b cross regardless of pruning."""
    from .operators import booleanops as bpo

    # tiny fixture tables: coalesce(1) so the covering/pair mapInPandas
    # stages pay one Python worker, not shuffle.partitions near-empty ones
    sa = local_df(spark, 
        [(k, _bp_quad_text(*v)) for k, v in _BP_QUADS.items() if k.startswith("a")],
        "shape_id string, text string",
    ).coalesce(1)
    sb = local_df(spark, 
        [(k, _bp_quad_text(*v)) for k, v in _BP_QUADS.items() if k.startswith("b")],
        "shape_id string, text string",
    ).coalesce(1)
    probes = F.broadcast(
        local_df(spark, _BP_PROBES, "probe_id int, plat double, plng double")
    )
    # both ops in ONE pair-kernel pass and ONE probe-membership pass:
    # Python stages carry a fixed scheduling cost (several seconds at
    # local[32] on this host), so the query batches them
    ops = ["intersection", "difference"]
    bp = bpo.boolean_pairs(sa, sb, ops)
    allp = (
        sa.select(F.col("shape_id").alias("a_id"), F.col("text").alias("a_text"))
        .crossJoin(sb.select(F.col("shape_id").alias("b_id")))
        .crossJoin(local_df(spark, [(o,) for o in ops], "op string"))
    )
    default = F.when(F.col("op") == "difference", F.col("a_text")).otherwise(F.lit(""))
    res = (
        allp.join(
            bp.select("a_id", "b_id", "op", "result"), ["a_id", "b_id", "op"], "left"
        )
        .select(
            "op",
            "a_id",
            "b_id",
            F.coalesce(F.col("result"), default).alias("result"),
        )
        .coalesce(1)
    )
    return res.crossJoin(probes).select(
        "op",
        "a_id",
        "b_id",
        "probe_id",
        F.when(F.col("result") == "", F.lit(False))
        .otherwise(_bp_contains_text(F.col("result"), F.col("plat"), F.col("plng")))
        .alias("inside"),
    )


@pandas_udf(BooleanType())
def _bp_contains_text(text: pd.Series, lat: pd.Series, lng: pd.Series) -> pd.Series:
    from .operators.shapes import _parse_polygon

    lat_r = np.radians(lat.to_numpy(np.float64))
    lng_r = np.radians(lng.to_numpy(np.float64))
    x, y, z = s2.latlng_to_xyz(lat_r, lng_r)
    out = np.zeros(len(x), dtype=bool)
    for t in pd.unique(text):
        mask = (text == t).to_numpy()
        if t == "":
            continue
        poly = _parse_polygon(t)
        out[mask] = poly.contains_points(x[mask], y[mask], z[mask])
    return pd.Series(out)


def q_boolean_pairs_oracle() -> str:
    edge_rows = []
    for pid, q in _BP_QUADS.items():
        poly = rg.Polygon([rg.Loop.from_latlng_degrees(
            [(q[0], q[2]), (q[0], q[3]), (q[1], q[3]), (q[1], q[2])]
        )])
        edge_rows.append(_poly_edges_values(poly, pid))
    edges = ",".join(edge_rows)
    probe_vals = ", ".join(
        f"({i}, CAST({la!r} AS DOUBLE), CAST({ln!r} AS DOUBLE))"
        for i, la, ln in _BP_PROBES
    )
    return f"""
    WITH probes(probe_id, lat, lng) AS (VALUES {probe_vals}),
    p AS (SELECT probe_id, {_XYZ_SQL} FROM probes),
    e(pid, ax, ay, az, bx, by, bz) AS (VALUES {edges}),
    m AS (SELECT pid, probe_id,
          bool_and((ax*(by*z - bz*y) + ay*(bz*x - bx*z) + az*(bx*y - by*x)) > 0) AS inside
          FROM p CROSS JOIN e GROUP BY pid, probe_id),
    pairs(a_id, b_id) AS (VALUES ('a0','b0'), ('a0','b1'), ('a1','b0'), ('a1','b1'))
    SELECT 'intersection' AS op, pairs.a_id, pairs.b_id, ma.probe_id,
           (ma.inside AND mb.inside) AS inside
    FROM pairs
    JOIN m ma ON ma.pid = pairs.a_id
    JOIN m mb ON mb.pid = pairs.b_id AND mb.probe_id = ma.probe_id
    UNION ALL
    SELECT 'difference' AS op, pairs.a_id, pairs.b_id, ma.probe_id,
           (ma.inside AND NOT mb.inside) AS inside
    FROM pairs
    JOIN m ma ON ma.pid = pairs.a_id
    JOIN m mb ON mb.pid = pairs.b_id AND mb.probe_id = ma.probe_id
    """


_BUFFER_GEO_RADIUS = float(np.radians(2.517))


def q_buffer_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 gate: TRUE buffered geometry (kernel/bufferop offset curves +
    winding resolution), not the covering approximation — orders points
    are PIP-joined against the buffered polygon itself; the oracle is the
    distance-threshold form (inside p0 OR within the radius of its
    boundary), so membership checks the Minkowski boundary to the
    tessellation tolerance (3e-6 rad << the synthetic grid spacing)."""
    from .kernel import bufferop

    buf = bufferop.buffer_polygon(
        pip_polygons()["p0"], _BUFFER_GEO_RADIUS, max_error=3e-6
    )
    pts = _points_from_keys(tables.load_table(spark, sf_dir, "orders"), "o_orderkey")
    return pip.pip_join(spark, pts, {"p0b": buf}, point_id="k").select(
        F.col("point_id").alias("k")
    )


def q_buffer_geometry_oracle() -> str:
    threshold = float(sphere.chord2_from_angle(_BUFFER_GEO_RADIUS))
    p0_expr = dict(_edge_distance_sql("x", "y", "z"))["p0"]
    return f"""
    WITH p AS (SELECT k, {_XYZ_SQL} FROM ({_latlng_sql('orders', 'o_orderkey')})),
    e(pid, ax, ay, az, bx, by, bz) AS (VALUES {_quad_edges_sql_values()}),
    dets AS (SELECT p.k,
        (ax*(by*z - bz*y) + ay*(bz*x - bx*z) + az*(bx*y - by*x)) AS det
        FROM p CROSS JOIN e WHERE e.pid = 'p0'),
    inside AS (SELECT k FROM dets GROUP BY k HAVING bool_and(det > 0)),
    near AS (SELECT k FROM p WHERE ({p0_expr}) <= {threshold!r})
    SELECT k FROM inside UNION SELECT k FROM near
    """


def q_winding_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 constructive gate: the union of the two (shared-edge) degenerate
    quads ASSEMBLED BY THE WINDING OPERATION (positive rule over both
    directed boundaries), then membership-checked against the orders
    points — the oracle is the same det-based union as
    boolean_degenerate's union rows."""
    from .kernel import windingop

    a = _degen_poly(_BOOL_DEGEN_A)
    b = _degen_poly(_BOOL_DEGEN_B)
    ref = -a.loops[0].vertices[0]
    result = windingop.winding_operation(
        [a.loops[0].vertices, b.loops[0].vertices], ref, 0, "positive"
    )
    pts = _points_from_keys(tables.load_table(spark, sf_dir, "orders"), "o_orderkey")
    return pip.pip_join(spark, pts, {"w": result}, point_id="k").select(
        F.col("point_id").alias("k")
    )


def q_winding_union_oracle() -> str:
    ea = _poly_edges_values(_degen_poly(_BOOL_DEGEN_A), "a")
    eb = _poly_edges_values(_degen_poly(_BOOL_DEGEN_B), "b")
    return f"""
    WITH p AS (SELECT k, {_XYZ_SQL} FROM ({_latlng_sql('orders', 'o_orderkey')})),
    ea(pid, ax, ay, az, bx, by, bz) AS (VALUES {ea}),
    eb(pid, ax, ay, az, bx, by, bz) AS (VALUES {eb}),
    ia AS (SELECT k FROM (SELECT p.k,
            (ax*(by*z - bz*y) + ay*(bz*x - bx*z) + az*(bx*y - by*x)) AS det
            FROM p CROSS JOIN ea) GROUP BY k HAVING bool_and(det > 0)),
    ib AS (SELECT k FROM (SELECT p.k,
            (ax*(by*z - bz*y) + ay*(bz*x - bx*z) + az*(bx*y - by*x)) AS det
            FROM p CROSS JOIN eb) GROUP BY k HAVING bool_and(det > 0))
    SELECT k FROM ia UNION SELECT k FROM ib
    """


#: hemisphere-spanning fixture group for the FULL-loop semantics
#: (S2ConvexHullQuery.java:137-153): group 99's points surround the whole
#: sphere, so its hull is the full loop and NO point is a hull vertex.
_HULL_FULL_GROUP = [
    (99, 1000000 + k, la, ln)
    for k, (la, ln) in enumerate(
        [(85.0, 0.0), (85.0, 120.0), (85.0, 240.0),
         (-80.0, 60.0), (-80.0, 190.0), (-80.0, 310.0),
         (0.0, 0.0), (0.0, 90.0), (0.0, 185.0), (0.0, 280.0)]
    )
]


def q_convex_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 with a VALUE oracle: per customer point, whether it is a vertex
    of its nation's spherical convex hull, plus the group's FULL-loop flag.
    The hull comes from the distributed Graham-scan kernel
    (convex_hull_per_group); the DuckDB oracle characterizes hull vertices
    independently via supporting planes (p is on the hull iff some
    great-circle plane through p and another group point has the whole
    group on one side), and a group is full iff NO point has a supporting
    plane. Customer points are shrunk into a sub-hemispheric cap
    (lat/4+20, lng/4) so every nation group has a proper hull; fixture
    group 99 spans the sphere and must hull to the full loop."""
    from .operators import edgequeries

    pts = tables.load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("group_id"),
        F.col("c_custkey").cast("long").alias("id"),
        (geo.lat_col("c_custkey") / 4 + 20).alias("lat"),
        (geo.lng_col("c_custkey") / 4).alias("lng"),
    ).unionByName(
        local_df(
            spark, _HULL_FULL_GROUP, "group_id int, id long, lat double, lng double"
        ).select(
            F.col("group_id").cast("long").alias("group_id"),
            "id",
            "lat",
            "lng",
        )
    )
    hull = edgequeries.convex_hull_per_group(pts)
    full_flags = hull.groupBy("group_id").agg(
        F.max(F.col("point_id") == -1).alias("group_full")
    )
    flags = (
        pts.select("group_id", F.col("id").alias("point_id"))
        .join(
            hull.select(
                "group_id", "point_id", F.lit(True).alias("is_hull")
            ).dropDuplicates(["group_id", "point_id"]),
            ["group_id", "point_id"],
            "left",
        )
        .join(F.broadcast(full_flags), ["group_id"], "left")
    )
    return flags.select(
        "group_id",
        "point_id",
        F.coalesce(F.col("is_hull"), F.lit(False)).alias("is_hull"),
        F.coalesce(F.col("group_full"), F.lit(False)).alias("group_full"),
    )


def q_convex_hull_oracle() -> str:
    det = (
        "(a.x*(b.y*r.z-b.z*r.y) + a.y*(b.z*r.x-b.x*r.z) "
        "+ a.z*(b.x*r.y-b.y*r.x))"
    )
    fixture = ", ".join(
        f"({g}, {k}, {la!r}, {ln!r})" for g, k, la, ln in _HULL_FULL_GROUP
    )
    return f"""
    WITH p0 AS (
        SELECT c_nationkey AS group_id, c_custkey AS k,
            ({geo.lat_sql('c_custkey')}) / 4 + 20 AS lat,
            ({geo.lng_sql('c_custkey')}) / 4 AS lng FROM customer
        UNION ALL
        SELECT group_id, k, lat, lng
        FROM (VALUES {fixture}) AS fx(group_id, k, lat, lng)),
    p AS (SELECT group_id, k, {_XYZ_SQL} FROM p0),
    support AS (
        SELECT a.group_id, a.k AS pid, b.k AS qid,
               bool_and({det} >= -1e-12) AS allp,
               bool_and({det} <= 1e-12) AS alln
        FROM p a
        JOIN p b ON b.group_id = a.group_id AND b.k <> a.k
        JOIN p r ON r.group_id = a.group_id
        GROUP BY a.group_id, a.k, b.k),
    verts AS (SELECT DISTINCT group_id, pid FROM support WHERE allp OR alln),
    gfull AS (SELECT p.group_id, count(verts.pid) = 0 AS group_full
              FROM p LEFT JOIN verts
                ON verts.group_id = p.group_id AND verts.pid = p.k
              GROUP BY p.group_id)
    SELECT p.group_id AS group_id, p.k AS point_id,
           (verts.pid IS NOT NULL) AS is_hull,
           gfull.group_full AS group_full
    FROM p
    LEFT JOIN verts ON verts.group_id = p.group_id AND verts.pid = p.k
    JOIN gfull ON gfull.group_id = p.group_id
    """


def q_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 baseline: exact kNN, supplier queries vs customer index."""
    cust = tables.load_table(spark, sf_dir, "customer")
    supp = tables.load_table(spark, sf_dir, "supplier").where(F.col("s_suppkey") < 20)
    index = cust.select(
        F.col("c_custkey").alias("id"),
        geo.lat_col("c_custkey").alias("lat"),
        geo.lng_col("c_custkey").alias("lng"),
    )
    queries = supp.select(
        F.col("s_suppkey").alias("query_id"),
        (geo.lat_col("s_suppkey") / 2).alias("lat"),
        (geo.lng_col("s_suppkey") / 2).alias("lng"),
    )
    return knn.knn_bruteforce(index, queries, k=5).select(
        "query_id", "rank", "neighbor_id"
    )


def _knn_oracle() -> str:
    return f"""
    WITH ip AS (SELECT k AS id, {_XYZ_SQL}
                FROM ({_latlng_sql('customer', 'c_custkey')})),
    qp0 AS (SELECT s_suppkey AS query_id,
            {geo.lat_sql('s_suppkey')} / 2 AS lat, {geo.lng_sql('s_suppkey')} / 2 AS lng
            FROM supplier WHERE s_suppkey < 20),
    qp AS (SELECT query_id, {_XYZ_SQL} FROM qp0),
    scored AS (SELECT qp.query_id, ip.id AS neighbor_id,
        least(4.0, (qp.x-ip.x)*(qp.x-ip.x) + (qp.y-ip.y)*(qp.y-ip.y)
            + (qp.z-ip.z)*(qp.z-ip.z)) AS chord2
        FROM qp CROSS JOIN ip),
    ranked AS (SELECT query_id, neighbor_id,
        row_number() OVER (PARTITION BY query_id ORDER BY chord2, neighbor_id) AS rank
        FROM scored)
    SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= 5
    """


def q_knn_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 scale path: cell-ring join kNN; must equal the brute oracle."""
    cust = tables.load_table(spark, sf_dir, "customer")
    supp = tables.load_table(spark, sf_dir, "supplier").where(F.col("s_suppkey") < 20)
    index = cust.select(
        F.col("c_custkey").alias("id"),
        geo.lat_col("c_custkey").alias("lat"),
        geo.lng_col("c_custkey").alias("lng"),
    )
    queries = supp.select(
        F.col("s_suppkey").alias("query_id"),
        (geo.lat_col("s_suppkey") / 2).alias("lat"),
        (geo.lng_col("s_suppkey") / 2).alias("lng"),
    )
    return knn.knn_cell_join(index, queries, k=5).select(
        "query_id", "rank", "neighbor_id"
    )


# (region_id, seq, token): the two polyline lists are the UPSTREAM
# cross-implementation golden fixtures (S2RegionCovererTest:144-229,
# Java == C++); the p0-p5 polygon lists are pinned snapshots of this
# engine's coverer (regression guard; bit-validated by tests/test_coverer.py).
_COVERING_GOLDEN = [
    ('p0', 0, '10d'), ('p0', 1, '10f'), ('p0', 2, '111'), ('p0', 3, '113'), ('p0', 4, '16cc'),
    ('p0', 5, '16d4'), ('p0', 6, '172c'), ('p0', 7, '1733'), ('p1', 0, '52c'),
    ('p1', 1, '531c'), ('p1', 2, '533'), ('p1', 3, '870b'), ('p1', 4, '870d'),
    ('p1', 5, '8713'), ('p1', 6, '877'), ('p1', 7, '87c'), ('p2', 0, '2aac'),
    ('p2', 1, '2ab4'), ('p2', 2, '2acc'), ('p2', 3, '2ad4'), ('p2', 4, '2b2b'),
    ('p2', 5, '6a5'), ('p2', 6, '6a7'), ('p2', 7, '6ac'), ('p3', 0, '654'), ('p3', 1, '7aac'),
    ('p3', 2, '7ab4'), ('p3', 3, '7acc'), ('p3', 4, '7ad4'), ('p4', 0, 'b95'),
    ('p4', 1, 'bb9'), ('p4', 2, 'bbd'), ('p4', 3, 'bbf'), ('p4', 4, 'bc1'), ('p4', 5, 'be9c'),
    ('p4', 6, 'beb'), ('p4', 7, 'becc'), ('p5', 0, '4381'), ('p5', 1, '4458aac'),
    ('p5', 2, '445f'), ('p5', 3, '447'), ('p5', 4, '4481'), ('p5', 5, '4487'),
    ('p5', 6, '448c'), ('p5', 7, '44f'), ('line_eq', 0, '0555555555555555'),
    ('line_eq', 1, '0fffffffffffffff'), ('line_eq', 2, '10001'), ('line_eq', 3, '10007'),
    ('line_eq', 4, '10009'), ('line_eq', 5, '1000a4'), ('line_eq', 6, '1aaa09e01fffdf7f'),
    ('line_eq', 7, '1aaaaaaaaaaaaaab'), ('line_syd', 0, '6b12ae36313d'),
    ('line_syd', 1, '6b12ae36313f'), ('line_syd', 2, '6b12ae363141'),
    ('line_syd', 3, '6b12ae363143'), ('line_syd', 4, '6b12ae363145'),
    ('line_syd', 5, '6b12ae363159'), ('line_syd', 6, '6b12ae36315b'),
    ('line_syd', 7, '6b12ae363343'), ('line_syd', 8, '6b12ae363345'),
    ('line_syd', 9, '6b12ae36334d'), ('line_syd', 10, '6b12ae36334f'),
    ('line_syd', 11, '6b12ae363369'), ('line_syd', 12, '6b12ae36336f'),
    ('line_syd', 13, '6b12ae363371'), ('line_syd', 14, '6b12ae363377'),
    ('line_syd', 15, '6b12ae363391'), ('line_syd', 16, '6b12ae363393'),
    ('line_syd', 17, '6b12ae36339b'), ('line_syd', 18, '6b12ae36339d'),
    ('line_syd', 19, '6b12ae3633e3'), ('line_syd', 20, '6b12ae3633e5'),
    ('line_syd', 21, '6b12ae3633ed'), ('line_syd', 22, '6b12ae3633ef'),
    ('line_syd', 23, '6b12ae37cc11'), ('line_syd', 24, '6b12ae37cc13'),
    ('line_syd', 25, '6b12ae37cc1b'), ('line_syd', 26, '6b12ae37cc1d'),
    ('line_syd', 27, '6b12ae37cc63'), ('line_syd', 28, '6b12ae37cc65'),
    ('line_syd', 29, '6b12ae37cc6d'), ('line_syd', 30, '6b12ae37cc6f'),
    ('line_syd', 31, '6b12ae37cc89'), ('line_syd', 32, '6b12ae37cc8f'),
    ('line_syd', 33, '6b12ae37cc91'), ('line_syd', 34, '6b12ae37cc97'),
    ('line_syd', 35, '6b12ae37ccb1'), ('line_syd', 36, '6b12ae37ccb3'),
    ('line_syd', 37, '6b12ae37ccbb'), ('line_syd', 38, '6b12ae37ccbd'),
    ('line_syd', 39, '6b12ae37cea5'), ('line_syd', 40, '6b12ae37cea7'),
    ('line_syd', 41, '6b12ae37cebb'),
]


# boundary-models gate: quad with an equator bottom and meridian sides so
# exact-boundary probe points are constructible from lat/lng literals
_MODELS_POLY_PTS = [(0.0, 10.0), (0.0, 40.0), (25.0, 40.0), (25.0, 10.0)]

#: (id, lat, lng): exact-boundary probes (vertices, equator/meridian edge
#: points), interior and exterior probes
_MODELS_PROBES = [
    (9000001, 0.0, 10.0), (9000002, 0.0, 40.0), (9000003, 25.0, 40.0),
    (9000004, 25.0, 10.0), (9000005, 0.0, 25.0), (9000006, 12.5, 10.0),
    (9000007, 12.5, 40.0), (9000008, 10.0, 25.0), (9000009, 5.0, 12.0),
    (9000010, -5.0, 25.0), (9000011, 10.0, 50.0), (9000012, 40.0, 25.0),
]


def q_pip_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C-tier boundary models (S2BooleanOperation polygon models): open and
    closed membership for probe points that sit EXACTLY on the polygon
    boundary plus the scaled customer cloud; the DuckDB oracle recomputes
    both models from halfspace determinants with a +-1e-12 threshold
    (matching the kernel's ~5e-13 rad boundary tolerance). semi_open is
    pytest-gated (tests/test_boundary_models.py) because its boundary-side
    assignment is wedge-order dependent, not SQL-expressible."""
    from .kernel import region as rgk

    poly = rgk.Polygon([rgk.Loop.from_latlng_degrees(_MODELS_POLY_PTS)])

    @pandas_udf("open boolean, closed boolean")
    def models(lat: pd.Series, lng: pd.Series) -> pd.DataFrame:
        lat_r = np.radians(lat.to_numpy(np.float64))
        lng_r = np.radians(lng.to_numpy(np.float64))
        x, y, z = s2.latlng_to_xyz(lat_r, lng_r)
        return pd.DataFrame(
            {
                "open": poly.contains_points(x, y, z, model="open"),
                "closed": poly.contains_points(x, y, z, model="closed"),
            }
        )

    probes = local_df(spark, 
        _MODELS_PROBES, "point_id long, lat double, lng double"
    )
    cust = tables.load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("point_id"),
        (geo.lat_col("c_custkey") / 4 + 10).alias("lat"),
        (geo.lng_col("c_custkey") / 4 + 25).alias("lng"),
    )
    pts = probes.unionByName(cust)
    withm = pts.withColumn("_m", models(F.col("lat"), F.col("lng")))
    return withm.select(
        "point_id",
        F.explode(
            F.array(
                F.struct(F.lit("open").alias("model"), F.col("_m.open").alias("inside")),
                F.struct(F.lit("closed").alias("model"), F.col("_m.closed").alias("inside")),
            )
        ).alias("_e"),
    ).select("point_id", F.col("_e.model").alias("model"), F.col("_e.inside").alias("inside"))


def q_pip_models_oracle() -> str:
    import numpy as _np

    from .kernel import region as rgk

    v = rgk.Polygon([rgk.Loop.from_latlng_degrees(_MODELS_POLY_PTS)]).loops[0].vertices
    edges = []
    for k in range(len(v)):
        a, b = v[k], v[(k + 1) % len(v)]
        edges.append(
            "(" + ", ".join(f"CAST({float(c)!r} AS DOUBLE)" for c in list(a) + list(b)) + ")"
        )
    vals = ", ".join(
        f"({i}, CAST({la!r} AS DOUBLE), CAST({ln!r} AS DOUBLE))"
        for i, la, ln in _MODELS_PROBES
    )
    return f"""
    WITH probes(point_id, lat, lng) AS (VALUES {vals}),
    cust AS (SELECT c_custkey AS point_id,
             ({geo.lat_sql('c_custkey')}) / 4 + 10 AS lat,
             ({geo.lng_sql('c_custkey')}) / 4 + 25 AS lng FROM customer),
    pts AS (SELECT * FROM probes UNION ALL SELECT * FROM cust),
    p AS (SELECT point_id, {_XYZ_SQL} FROM pts),
    e(ax, ay, az, bx, by, bz) AS (VALUES {", ".join(edges)}),
    d AS (SELECT point_id,
          (ax*(by*z - bz*y) + ay*(bz*x - bx*z) + az*(bx*y - by*x)) AS det
          FROM p CROSS JOIN e),
    agg AS (SELECT point_id,
            bool_and(det > 1e-12) AS open_in,
            bool_and(det >= -1e-12) AS closed_in
            FROM d GROUP BY point_id)
    SELECT point_id, 'open' AS model, open_in AS inside FROM agg
    UNION ALL
    SELECT point_id, 'closed' AS model, closed_in AS inside FROM agg
    """


def q_covering_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 with a VALUE oracle: coverings of the 6 query polygons plus the
    two S2RegionCovererTest golden polylines, all computed by the coverer
    at query time; the oracle is the _COVERING_GOLDEN literal list (the
    polyline halves are upstream Java==C++ truth, the polygon halves a
    pinned snapshot), so the driver hash-checks every token value."""
    rows = []
    coverer = cov.RegionCoverer(max_cells=8)
    for pid, poly in pip_polygons().items():
        for seq, tok in enumerate(coverer.get_covering_tokens(poly)):
            rows.append((pid, seq, tok))
    line_eq = rg.Polyline.from_latlng_degrees([(0.0, 0.0), (0.0, 1.0)])
    for seq, tok in enumerate(coverer.get_covering_tokens(line_eq)):
        rows.append(("line_eq", seq, tok))
    line_syd = rg.Polyline.from_latlng_degrees(
        [(-33.8663457, 151.1960891), (-33.866094000000004, 151.19517439999998)]
    )
    syd_coverer = cov.RegionCoverer(min_level=0, max_level=22, max_cells=2**31 - 1)
    for seq, tok in enumerate(syd_coverer.get_covering_tokens(line_syd)):
        rows.append(("line_syd", seq, tok))
    return local_df(spark, rows, "region_id string, seq int, token string")


# region_terms gate fixtures: document and query quads covering every
# hierarchical relationship — q0 deep inside d0 (query cells BELOW doc
# cells), q1 containing everything (query cells ABOVE), q2 identical to
# d1 (equal cells), q3 disjoint from all.
_TERM_DOCS = {
    "d0": (20.0, 20.0, 10.0),
    "d1": (19.0, 19.0, 1.0),
    "d2": (33.0, 31.0, 4.0),
    "d3": (-40.0, -120.0, 3.0),
}
_TERM_QUERIES = {
    "q0": (22.5, 22.5, 0.5),
    "q1": (20.0, 20.0, 20.0),
    "q2": (19.0, 19.0, 1.0),
    "q3": (60.0, 100.0, 2.0),
}
_TERM_LEVELS = {"min_level": 4, "max_level": 12, "level_mod": 2}


def q_region_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2IndexingHelper term-generation gate (operators/indexing.py):
    documents index ancestor/covering terms from their denormalized
    coverings, queries generate lookup terms, and retrieval is ONE string
    equi-join — the search-platform integration surface. The DuckDB
    oracle derives the exact same candidate pair set independently from
    the coverings' Hilbert ranges (term match <=> some doc cell and query
    cell are hierarchically related <=> their leaf ranges overlap), so a
    missing ancestor/covering term class shows up as a missing pair."""
    from .operators import indexing
    from .operators import shapes as shp

    docs = local_df(
        spark, [(k, _quad_text(*v)) for k, v in _TERM_DOCS.items()],
        "shape_id string, text string",
    ).coalesce(1)
    qs = local_df(
        spark, [(k, _quad_text(*v)) for k, v in _TERM_QUERIES.items()],
        "shape_id string, text string",
    ).coalesce(1)
    dcov = shp.coverings_df(docs, max_cells=8, **_TERM_LEVELS)
    qcov = shp.coverings_df(qs, max_cells=8, **_TERM_LEVELS)
    dt = indexing.index_terms(dcov, **_TERM_LEVELS)
    qt = indexing.query_terms(qcov, query_id="shape_id", **_TERM_LEVELS)
    return indexing.term_matches(dt, qt).select("doc_id", "query_id")


def q_region_terms_oracle() -> str:
    coverer = cov.RegionCoverer(max_cells=8, **_TERM_LEVELS)

    def ranges(fixt):
        rows = []
        for pid, spec in fixt.items():
            for cid in coverer.get_covering(_quad_polygon(*spec)):
                u = np.uint64(cid)
                lo = int(np.int64(ci_range_min(u)))
                hi = int(np.int64(ci_range_max(u)))
                rows.append(f"('{pid}', {lo}, {hi})")
        return ", ".join(rows)

    import numpy as np

    from .kernel.cellid import range_max as _rmax
    from .kernel.cellid import range_min as _rmin

    def ci_range_min(u):
        return np.atleast_1d(_rmin(u)).view(np.int64)[0]

    def ci_range_max(u):
        return np.atleast_1d(_rmax(u)).view(np.int64)[0]

    dvals = ranges(_TERM_DOCS)
    qvals = ranges(_TERM_QUERIES)
    # biased comparison via raw-bits signed ints: all fixture cells are on
    # faces 0-2 (positive ids), so signed order == biased order here
    return f"""
    WITH d(doc_id, lo, hi) AS (VALUES {dvals}),
    q(query_id, lo, hi) AS (VALUES {qvals})
    SELECT DISTINCT d.doc_id AS doc_id, q.query_id AS query_id
    FROM d JOIN q ON d.lo <= q.hi AND q.lo <= d.hi
    """


def q_covering_tokens_oracle() -> str:
    vals = ", ".join(f"('{r}', {s}, '{t}')" for r, s, t in _COVERING_GOLDEN)
    return (
        "SELECT region_id, seq, token FROM (VALUES "
        + vals
        + ") AS t(region_id, seq, token)"
    )


# ===========================================================================
# Training-data pipeline queries (documents / embeddings)
# ===========================================================================

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged union: exact full-document dedup (md5 groupBy) + exact
    repeated-substring spans (operators/dedup.repeated_window_spans,
    Lee-et-al-style 8-token window dedup with island merging) over docs
    plus their truncated twins, + corpus vocabulary top-k + per-doc
    TF-IDF keywords (operators/textstats.vocab_topk_from_tf /
    tfidf_top_terms_from_tf).
    kind='doc' rows carry (key=content_md5, x=group_size, y=canonical_id);
    kind='span' rows carry (x=tok_start, y=tok_end, z=n_windows);
    kind='vocab' rows carry (id=rank, key=word, x=n);
    kind='tfidf' rows carry (id=doc, key=word, x=score_q, y=doc_freq,
    z=rank)."""
    d = tables.load_table(spark, sf_dir, "documents")
    exact = dedup.exact_duplicates(d, "doc_id", "text").select(
        F.lit("doc").alias("kind"),
        "id",
        F.col("content_md5").alias("key"),
        F.col("group_size").cast("long").alias("x"),
        F.col("canonical_id").cast("long").alias("y"),
        F.lit(0).cast("long").alias("z"),
    )
    spans = dedup.repeated_window_spans(
        _docs_with_near_dups(spark, sf_dir), "doc_id", "text", w=8
    ).select(
        F.lit("span").alias("kind"),
        "id",
        F.lit("").alias("key"),
        F.col("tok_start").cast("long").alias("x"),
        F.col("tok_end").cast("long").alias("y"),
        F.col("n_windows").cast("long").alias("z"),
    )
    # ONE (id, word, tf) table feeds both the vocab and tfidf tiers; not
    # held: a cold A/B of this gate ran no slower without the cache
    tf = textstats.term_frequencies(d, "doc_id", "text")
    vocab = textstats.vocab_topk_from_tf(tf, k=25).select(
        F.lit("vocab").alias("kind"),
        F.col("rank").cast("long").alias("id"),
        F.col("word").alias("key"),
        F.col("n").cast("long").alias("x"),
        F.lit(0).cast("long").alias("y"),
        F.lit(0).cast("long").alias("z"),
    )
    tfidf = textstats.tfidf_top_terms_from_tf(tf, top_n=3).select(
        F.lit("tfidf").alias("kind"),
        "id",
        F.col("word").alias("key"),
        F.col("score_q").cast("long").alias("x"),
        F.col("doc_freq").cast("long").alias("y"),
        F.col("rank").cast("long").alias("z"),
    )
    # incremental tier: a synthetic "day's batch" derived from the corpus —
    # exact copies (doc_id%7==0), truncated twins (%7==1), junk (%7==2) —
    # deduped AGAINST the corpus (operators/dedup.incremental_dedup).
    mod7 = F.col("doc_id") % 7
    bid = (F.col("doc_id") + 5000000).alias("doc_id")
    b_exact = d.where(mod7 == 0).select(bid, "text")
    b_near = d.where(mod7 == 1).select(
        bid,
        F.col("text")
        .substr(F.lit(1), F.greatest(F.length("text") - 60, F.lit(1)))
        .alias("text"),
    )
    b_new = d.where(mod7 == 2).select(bid, F.lit("qj qj qj qj qj").alias("text"))
    batch = b_exact.unionByName(b_near).unionByName(b_new)
    incr = dedup.incremental_dedup(d, batch, "doc_id", "text").select(
        F.lit("incr").alias("kind"),
        "id",
        F.col("verdict").alias("key"),
        F.col("match_id").alias("x"),
        F.lit(0).cast("long").alias("y"),
        F.lit(0).cast("long").alias("z"),
    )
    # RAG chunking tier (packing.sliding_chunks): overlapping 32-token
    # windows at stride 24 over every 10th doc, chunk hashes checked.
    chunks = packing.sliding_chunks(
        d.where(F.col("doc_id") % 10 == 3), "doc_id", "text",
        window=32, stride=24,
    ).select(
        F.lit("chunk").alias("kind"),
        "id",
        F.col("chunk_idx").cast("string").alias("key"),
        F.col("tok_start").alias("x"),
        F.col("tok_end").alias("y"),
        F.col("chunk_hash").alias("z"),
    )
    return (
        exact.unionByName(spans)
        .unionByName(vocab)
        .unionByName(tfidf)
        .unionByName(incr)
        .unionByName(chunks)
    )


def q_dedup_exact_oracle() -> str:
    h8 = oracle.md5_hash32_sql("array_to_string(list_slice(w, i, i + 7), ' ')", 77)
    mins = ", ".join(
        f"MIN({oracle.md5_hash32_sql('sh', s)}) AS mh_{s}" for s in range(8)
    )

    def bands_sql(sig: str) -> str:
        return " UNION ALL ".join(
            f"SELECT id, CAST({b} AS VARCHAR) || '_' || "
            f"CAST(mh_{2 * b} AS VARCHAR) || '_' || "
            f"CAST(mh_{2 * b + 1} AS VARCHAR) AS band FROM {sig}"
            for b in range(4)
        )

    cband_sql = bands_sql("csig")
    bband_sql = bands_sql("bsig")
    chash = oracle.md5_hash32_sql(
        "array_to_string(list_slice(w, tok_start + 1, tok_end), ' ')", 5
    )
    return f"""
    WITH {_DOCS_DUP_SQL},
    h AS (SELECT doc_id AS id, md5(lower(text)) AS content_md5 FROM documents),
    g AS (SELECT content_md5, COUNT(*) AS group_size, MIN(id) AS canonical_id
          FROM h GROUP BY 1),
    words AS (SELECT doc_id AS id,
        string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), ' +') AS w
        FROM docs_dup),
    hashed AS (SELECT id, i - 1 AS pos, {h8} AS hh
               FROM (SELECT id, w, unnest(range(1, greatest(len(w) - 6, 1))) AS i
                     FROM words)),
    dups AS (SELECT hh FROM hashed GROUP BY hh HAVING COUNT(DISTINCT id) >= 2),
    gaps AS (SELECT id, pos,
        CASE WHEN pos - lag(pos) OVER (PARTITION BY id ORDER BY pos) > 8
             THEN 1 ELSE 0 END AS gap
        FROM hashed JOIN dups USING (hh)),
    isl AS (SELECT id, pos,
        sum(gap) OVER (PARTITION BY id ORDER BY pos) AS island FROM gaps),
    spans AS (SELECT id, MIN(pos) AS tok_start, MAX(pos) + 8 AS tok_end,
        COUNT(*) AS n_windows FROM isl GROUP BY id, island),
    cw AS (SELECT doc_id AS id, unnest(
        string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), ' +')
        ) AS word FROM documents),
    vc AS (SELECT word, COUNT(*) AS n FROM cw WHERE word <> '' GROUP BY 1),
    vtop AS (SELECT word, n,
        row_number() OVER (ORDER BY n DESC, word) AS rank
        FROM vc ORDER BY n DESC, word LIMIT 25),
    tf AS (SELECT id, word, COUNT(*) AS tf FROM cw WHERE word <> ''
        GROUP BY 1, 2),
    dfq AS (SELECT word, COUNT(*) AS doc_freq FROM tf GROUP BY 1),
    sc AS (SELECT id, word, tf.tf, doc_freq,
        (tf.tf * 1000000) // doc_freq AS score_q
        FROM tf JOIN dfq USING (word)),
    rk AS (SELECT *, row_number() OVER
        (PARTITION BY id ORDER BY score_q DESC, word) AS rank FROM sc),
    batch AS (
        SELECT doc_id + 5000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + 5000000, substr(text, 1, greatest(length(text) - 60, 1))
        FROM documents WHERE doc_id % 7 = 1
        UNION ALL
        SELECT doc_id + 5000000, 'qj qj qj qj qj'
        FROM documents WHERE doc_id % 7 = 2),
    cwv AS (SELECT doc_id AS id,
        string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), ' +') AS w
        FROM documents),
    cshv AS (SELECT id, unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM cwv),
    csig AS (SELECT id, {mins} FROM cshv GROUP BY id),
    cbands AS ({cband_sql}),
    bwv AS (SELECT doc_id AS id,
        string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), ' +') AS w
        FROM batch),
    bshv AS (SELECT id, unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM bwv),
    bsig AS (SELECT id, {mins} FROM bshv GROUP BY id),
    bbands AS ({bband_sql}),
    bhsh AS (SELECT doc_id AS id, md5(lower(text)) AS h FROM batch),
    ex AS (SELECT bhsh.id, MIN(h2.id) AS exact_id
           FROM bhsh JOIN h h2 ON h2.content_md5 = bhsh.h GROUP BY 1),
    nr AS (SELECT b.id, MIN(c.id) AS near_id
           FROM bbands b JOIN cbands c ON b.band = c.band GROUP BY 1),
    incr AS (SELECT b.id,
        CASE WHEN exact_id IS NOT NULL THEN 'exact'
             WHEN near_id IS NOT NULL THEN 'near'
             ELSE 'new' END AS verdict,
        COALESCE(exact_id, near_id, -1) AS match_id
        FROM (SELECT doc_id AS id FROM batch) b
        LEFT JOIN ex USING (id) LEFT JOIN nr USING (id)),
    chw AS (SELECT doc_id AS id,
        string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), ' +') AS w
        FROM documents WHERE doc_id % 10 = 3),
    chn AS (SELECT id, w,
        CASE WHEN array_to_string(w, '') = '' THEN 0 ELSE len(w) END AS n
        FROM chw),
    chx AS (SELECT id, w, n, unnest(range(0,
        CASE WHEN n = 0 THEN 0
             ELSE (greatest(n - 32, 0) + 23) // 24 + 1 END)) AS chunk_idx
        FROM chn),
    chs AS (SELECT id, chunk_idx, chunk_idx * 24 AS tok_start,
        least(chunk_idx * 24 + 32, n) AS tok_end, w FROM chx),
    chunks AS (SELECT id, chunk_idx, tok_start, tok_end,
        {chash} AS chunk_hash FROM chs)
    SELECT 'doc' AS kind, h.id, h.content_md5 AS key,
           CAST(g.group_size AS BIGINT) AS x, CAST(g.canonical_id AS BIGINT) AS y,
           CAST(0 AS BIGINT) AS z
    FROM h JOIN g USING (content_md5)
    UNION ALL
    SELECT 'span' AS kind, id, '' AS key, CAST(tok_start AS BIGINT) AS x,
           CAST(tok_end AS BIGINT) AS y, CAST(n_windows AS BIGINT) AS z
    FROM spans
    UNION ALL
    SELECT 'vocab' AS kind, CAST(rank AS BIGINT) AS id, word AS key,
           CAST(n AS BIGINT) AS x, CAST(0 AS BIGINT) AS y, CAST(0 AS BIGINT) AS z
    FROM vtop
    UNION ALL
    SELECT 'tfidf' AS kind, id, word AS key, CAST(score_q AS BIGINT) AS x,
           CAST(doc_freq AS BIGINT) AS y, CAST(rank AS BIGINT) AS z
    FROM rk WHERE rank <= 3
    UNION ALL
    SELECT 'incr' AS kind, id, verdict AS key, CAST(match_id AS BIGINT) AS x,
           CAST(0 AS BIGINT) AS y, CAST(0 AS BIGINT) AS z
    FROM incr
    UNION ALL
    SELECT 'chunk' AS kind, id, CAST(chunk_idx AS VARCHAR) AS key,
           CAST(tok_start AS BIGINT) AS x, CAST(tok_end AS BIGINT) AS y,
           CAST(chunk_hash AS BIGINT) AS z
    FROM chunks
    """


_SHINGLE_SQL = """
    words AS (SELECT doc_id AS id,
        string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), ' +') AS w
        FROM documents),
    sh AS (SELECT id, unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
           FROM words)
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load_table(spark, sf_dir, "documents")
    return dedup.minhash_signatures(d, "doc_id", "text", n_hashes=8)


def q_minhash_signatures_oracle() -> str:
    mins = ", ".join(
        f"MIN({oracle.md5_hash32_sql('sh', s)}) AS mh_{s}" for s in range(8)
    )
    return f"WITH {_SHINGLE_SQL} SELECT id, {mins} FROM sh GROUP BY id"


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load_table(spark, sf_dir, "documents")
    return dedup.simhash32(d, "doc_id", "text")


def q_simhash_oracle() -> str:
    h = oracle.md5_hash32_sql("w", 0)
    bit_sums = ", ".join(
        f"SUM(CASE WHEN ((hv >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(32)
    )
    sim = " + ".join(
        f"(CASE WHEN b{b} >= 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(32)
    )
    return f"""
    WITH words AS (SELECT doc_id AS id, unnest(
            string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), ' +')
        ) AS w FROM documents),
    hashed AS (SELECT id, {h} AS hv FROM words WHERE w <> ''),
    sums AS (SELECT id, {bit_sums} FROM hashed GROUP BY id)
    SELECT id, {sim} AS simhash FROM sums
    """


PACK_BUDGET = 512  # tokens per training context window


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text stats + concat-and-chunk context-window placement
    (operators/packing.with_chunk_assignments: exact distributed prefix
    sum of re_tokens in id order, chunked every PACK_BUDGET tokens) +
    rule-based quality filter verdicts (textstats.quality_filter:
    first-failing-rule reason codes, zero-shuffle Columns)."""
    d = tables.load_table(spark, sf_dir, "documents")
    stats = textstats.doc_stats(d, "doc_id", "text")
    packed = packing.with_chunk_assignments(
        stats, PACK_BUDGET, id_col="id", tokens_col="re_tokens"
    )
    qual = textstats.quality_filter(d, "doc_id", "text")
    # PII tier: inject deterministic emails/IPs into every 5th doc, then
    # hash-check the detector counts AND the redacted-text fingerprint
    # (textstats.pii_counts / redact_pii — pure Column regex).
    injected = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0.0."),
            (F.col("doc_id") % 200).cast("string"),
        ),
    ).otherwise(F.col("text"))
    ne, ni = textstats.pii_counts(injected)
    pii = d.select(
        F.col("doc_id").alias("id"),
        ne,
        ni,
        textstats.fingerprint64_udf(textstats.redact_pii(injected)).alias("pii_fp"),
    )
    return packed.join(qual, "id").join(pii, "id")


def q_doc_stats_oracle() -> str:
    stop_list = ", ".join(f"'{w}'" for w in textstats.STOPWORDS)
    sw = f"len([x for x in w if list_contains([{stop_list}], x)])"
    ws = (
        "CASE WHEN trim(text) = '' THEN 0 "
        "ELSE len(string_split_regex(trim(text), '\\s+')) END"
    )
    puncts = "len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))"
    return f"""
    WITH base AS (SELECT doc_id AS id, text,
        string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), ' +') AS w
        FROM documents),
    stats AS (SELECT id,
      {ws} AS ws_tokens,
      len(regexp_extract_all(lower(text), '{textstats.TOKEN_REGEX}')) AS re_tokens,
      {sw} AS stopwords,
      {puncts} AS puncts,
      CASE WHEN len(w) = 0 THEN 'und'
           WHEN 20 * {sw} >= len(w) THEN 'en' ELSE 'unk' END AS lang_guess,
      least(length(text) // 20, 40)
        + greatest(least(40 - (100 * {puncts}) // greatest(length(text), 1), 40), 0)
        + least((200 * {sw}) // greatest({ws}, 1), 20) AS quality,
      CASE WHEN length(text) = 0 THEN 0 ELSE list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, length(text) + 1),
            i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT))),
        (acc, c) -> (acc * 31 + c) % 2147483647) END AS fingerprint,
      CASE WHEN trim(text) = '' THEN 0
           ELSE list_max(list_transform(string_split_regex(trim(text), '\\s+'),
                x -> length(x))) END AS longest
    FROM base
    """ + f"""
    ), cum AS (SELECT *, sum(re_tokens) OVER (ORDER BY id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c FROM stats),
    final AS (
    SELECT * EXCLUDE (c),
      CAST(c - re_tokens AS BIGINT) AS tok_start,
      CAST((c - re_tokens) // {PACK_BUDGET} AS BIGINT) AS chunk_first,
      CAST(greatest(c - 1, c - re_tokens) // {PACK_BUDGET} AS BIGINT) AS chunk_last,
      CASE WHEN ws_tokens < 5 THEN 'too_short'
           WHEN ws_tokens > 100000 THEN 'too_long'
           WHEN longest > 40 THEN 'long_word'
           WHEN quality < 50 THEN 'low_quality'
           WHEN lang_guess NOT IN ('en') THEN 'lang'
           ELSE '' END AS reason
    FROM cum),
    inj AS (SELECT doc_id AS id,
      CASE WHEN doc_id % 5 = 0 THEN text || ' contact user'
           || CAST(doc_id AS VARCHAR) || '@example.com from 10.0.0.'
           || CAST(doc_id % 200 AS VARCHAR)
           ELSE text END AS itext
      FROM documents),
    red AS (SELECT id, itext,
      regexp_replace(regexp_replace(itext,
          '{textstats.PII_EMAIL}', '<EMAIL>', 'g'),
          '{textstats.PII_IPV4}', '<IP>', 'g') AS rtext
      FROM inj),
    piistats AS (SELECT id,
      len(regexp_extract_all(itext, '{textstats.PII_EMAIL}')) AS n_emails,
      len(regexp_extract_all(itext, '{textstats.PII_IPV4}')) AS n_ipv4,
      CASE WHEN length(rtext) = 0 THEN 0 ELSE list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, length(rtext) + 1),
            i -> CAST(ascii(substr(rtext, CAST(i AS INTEGER), 1)) AS BIGINT))),
        (acc, c) -> (acc * 31 + c) % 2147483647) END AS pii_fp
      FROM red)
    SELECT f.* EXCLUDE (longest, reason), f.reason, f.reason = '' AS keep,
           p.n_emails, p.n_ipv4, p.pii_fp
    FROM final f JOIN piistats p USING (id)
    """


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged union: kind='exact' float-cosine brute-force top-k +
    kind='quant' fixed-point scalar-quantized max-inner-product top-k
    (similarity.quantized_topk — the compressed-index retrieval stage of
    the int8-rescore pattern; scores are exact BIGINTs)."""
    emb = tables.load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = similarity.cosine_topk_bruteforce(
        emb, queries, "vec_id", "embedding", k=5
    ).select(
        F.lit("exact").alias("kind"),
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "neighbor_id",
        F.lit(0).cast("long").alias("score_q"),
    )
    quant = similarity.quantized_topk(
        emb, queries, "vec_id", "embedding", k=5
    ).select(
        F.lit("quant").alias("kind"),
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "neighbor_id",
        "score_q",
    )
    return exact.unionByName(quant)


def q_ann_topk_oracle() -> str:
    dot = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(list_zip({a}, {b}), "
        "s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))), (x, y) -> x + y)"
    )
    qdot = dot.format(a="q.embedding", b="x.embedding")
    qn = dot.format(a="q.embedding", b="q.embedding")
    xn = dot.format(a="x.embedding", b="x.embedding")
    scale = float(1 << 20)
    quant = (
        "list_transform({v}, "
        f"e -> CAST(round(CAST(e AS DOUBLE) * {scale!r}) AS BIGINT))"
    )
    qd = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(list_zip({quant.format(v='q.embedding')}, "
        f"{quant.format(v='x.embedding')}), "
        "s -> s[1] * s[2])), (x, y) -> x + y)"
    )
    return f"""
    WITH q AS (SELECT * FROM embeddings WHERE vec_id < 10),
    scored AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
        {qdot} / sqrt({qn} * {xn}) AS sim
        FROM q CROSS JOIN embeddings x WHERE q.vec_id <> x.vec_id),
    ranked AS (SELECT query_id, neighbor_id,
        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM scored),
    qscored AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
        {qd} AS score_q
        FROM q CROSS JOIN embeddings x WHERE q.vec_id <> x.vec_id),
    qranked AS (SELECT query_id, neighbor_id, score_q,
        row_number() OVER (PARTITION BY query_id
            ORDER BY score_q DESC, neighbor_id) AS rank
        FROM qscored)
    SELECT 'exact' AS kind, query_id, CAST(rank AS BIGINT) AS rank,
           neighbor_id, CAST(0 AS BIGINT) AS score_q
    FROM ranked WHERE rank <= 5
    UNION ALL
    SELECT 'quant' AS kind, query_id, CAST(rank AS BIGINT) AS rank,
           neighbor_id, score_q
    FROM qranked WHERE rank <= 5
    """


#: the ann_ivf gate's top-k, coarse list count and lists probed per query
ANN_IVF_K = 5
ANN_IVF_CENTROIDS = 8
ANN_IVF_NPROBE = 2


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN scale path: deterministic k-means-style
    training (hyperplane bucket-sum seeding + 2 exact-integer Lloyd
    iterations), one-Arrow-pass argmax list assignment (no N x K row
    expansion), nprobe bucket join, exact cosine refine. Approximate by
    construction; the oracle runs the IDENTICAL algorithm — training
    included — in SQL (same sequential-order dot products, exact BIGINT
    centroid sums), so the match is exact."""
    emb = tables.load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return similarity.ivf_topk(
        emb, queries, "vec_id", "embedding", k=ANN_IVF_K,
        n_centroids=ANN_IVF_CENTROIDS, nprobe=ANN_IVF_NPROBE,
    )


def q_ann_ivf_oracle(dim: int = 64) -> str:
    """SQL mirror of ivf_train_centroids + ivf_topk: q_ann_ivf's ANN_IVF_K,
    ANN_IVF_CENTROIDS and ANN_IVF_NPROBE, and the training constants
    similarity.IVF_INIT_PLANES and similarity.IVF_ITERS."""
    n_centroids, nprobe, k = ANN_IVF_CENTROIDS, ANN_IVF_NPROBE, ANN_IVF_K
    init_planes, iters = similarity.IVF_INIT_PLANES, similarity.IVF_ITERS
    dot = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(list_zip({a}, {b}), "
        "s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))), (x, y) -> x + y)"
    )

    def cos(a, b):
        return (
            f"{dot.format(a=a, b=b)} / sqrt({dot.format(a=a, b=a)}"
            f" * {dot.format(a=b, b=b)})"
        )

    # mirror of similarity.lsh_bucket_udf(init_planes, dim)
    planes = []
    for p in range(init_planes):
        proj = (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(0, {dim}), "
            "d -> CAST(embedding[CAST(d + 1 AS INTEGER)] AS DOUBLE)"
            f" * ((d * 11 + {p * 37}) % 21 - 10) / 10.0)), (x, y) -> x + y)"
        )
        planes.append(
            f"(CASE WHEN {proj} >= 0 THEN CAST({1 << p} AS BIGINT) ELSE 0 END)"
        )
    bucket_expr = " + ".join(planes)
    scale = float(1 << 20)

    def sum_cte(t: int) -> str:
        # mirror of similarity._sum_vectors (exact BIGINT elementwise sum)
        return f"""
    c{t} AS (
        SELECT centroid_id, list(CAST(s AS DOUBLE) ORDER BY d) AS cv
        FROM (SELECT centroid_id, d, SUM(q[CAST(d AS INTEGER)]) AS s
              FROM m{t} CROSS JOIN generate_series(1, {dim}) AS g{t}(d)
              GROUP BY 1, 2)
        GROUP BY centroid_id)"""

    lloyd = []
    for t in range(1, iters + 1):
        lloyd.append(f"""
    a{t} AS (
        SELECT id, q, centroid_id,
               row_number() OVER (PARTITION BY id
                   ORDER BY {cos('v', 'cv')} DESC, centroid_id) AS rn
        FROM qv CROSS JOIN c{t - 1}),
    m{t} AS (SELECT centroid_id, q FROM a{t} WHERE rn = 1),{sum_cte(t)}""")

    return f"""
    WITH qv AS (
        SELECT vec_id AS id, embedding AS v,
               list_transform(embedding,
                   e -> CAST(round(CAST(e AS DOUBLE) * {scale!r}) AS BIGINT)) AS q,
               {bucket_expr} AS bucket
        FROM embeddings),
    tb AS (SELECT bucket, COUNT(*) AS n FROM qv GROUP BY bucket
           ORDER BY n DESC, bucket LIMIT {n_centroids}),
    top AS (SELECT bucket,
                   row_number() OVER (ORDER BY n DESC, bucket) - 1 AS centroid_id
            FROM tb),
    m0 AS (SELECT centroid_id, q FROM qv JOIN top USING (bucket)),{sum_cte(0)},
    {','.join(lloyd)},
    assigned AS (
        SELECT id AS neighbor_id, v AS xv, centroid_id AS list_id,
               row_number() OVER (PARTITION BY id
                   ORDER BY {cos('v', 'cv')} DESC, centroid_id) AS arn
        FROM qv CROSS JOIN c{iters}),
    lists AS (SELECT neighbor_id, xv, list_id FROM assigned WHERE arn = 1),
    qq AS (SELECT id AS query_id, v AS qv FROM qv WHERE id < 10),
    probes AS (
        SELECT query_id, qv, centroid_id AS list_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY {cos('qv', 'cv')} DESC, centroid_id) AS prn
        FROM qq CROSS JOIN c{iters}),
    cand AS (
        SELECT p.query_id, p.qv, l.neighbor_id, l.xv
        FROM (SELECT * FROM probes WHERE prn <= {nprobe}) p
        JOIN lists l USING (list_id)
        WHERE p.query_id <> l.neighbor_id),
    ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY {cos('qv', 'xv')} DESC, neighbor_id) AS rank
        FROM cand)
    SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= {k}
    """


ANN_MIN_COSINE = 0.9501  # off-round threshold for the banded-LSH gate


def _embeddings_with_twins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectors as array<double> plus near-duplicate twins (first component
    shifted by +0.05) so the ANN pair-finding path has true positives."""
    emb = tables.load_table(spark, sf_dir, "embeddings")
    orig = emb.select(
        F.col("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    twins = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, x.cast("double") + 0.05).otherwise(
                x.cast("double")
            ),
        ).alias("v"),
    )
    return orig.unionByName(twins)


def q_ann_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: multi-table banded hyperplane LSH (4 x 16 planes)
    candidate pairs + exact cosine refine — replaces the single-table
    8-plane bucketing whose self-join degenerates quadratically."""
    d = _embeddings_with_twins(spark, sf_dir)
    return similarity.lsh_banded_pairs(
        d, "vec_id", "v", n_tables=4, planes_per_table=16, dim=64,
        min_cosine=ANN_MIN_COSINE,
    )


def q_ann_lsh_pairs_oracle() -> str:
    def proj(p: int) -> str:
        return (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            "list_transform(range(0, 64), "
            f"d -> v[CAST(d + 1 AS INTEGER)]"
            f" * ((d * 11 + {p * 37}) % 21 - 10) / 10.0)), (x, y) -> x + y)"
        )

    band_selects = []
    for t in range(4):
        bits = " + ".join(
            f"(CASE WHEN {proj(t * 16 + i)} >= 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
            for i in range(16)
        )
        band_selects.append(
            f"SELECT vec_id, v, CAST({t << 16} AS BIGINT) + {bits} AS band FROM vv"
        )
    bands = " UNION ALL ".join(band_selects)
    dot = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(list_zip({a}, {b}), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))), "
        "(x, y) -> x + y)"
    )
    return f"""
    WITH vv AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id,
            list_prepend(CAST(embedding[1] AS DOUBLE) + 0.05,
                         list_transform(embedding[2:], x -> CAST(x AS DOUBLE))) AS v
        FROM embeddings),
    bands AS ({bands}),
    kept AS (SELECT * FROM bands WHERE band IN
        (SELECT band FROM bands GROUP BY band HAVING COUNT(*) <= 10000)),
    pairs AS (SELECT DISTINCT l.vec_id AS a, r.vec_id AS b, l.v AS lv, r.v AS rv
              FROM kept l JOIN kept r ON l.band = r.band AND l.vec_id < r.vec_id)
    SELECT a, b FROM (
      SELECT a, b,
        {dot.format(a='lv', b='rv')} /
        sqrt({dot.format(a='lv', b='lv')} * {dot.format(a='rv', b='rv')}) AS sim
      FROM pairs)
    WHERE sim >= {ANN_MIN_COSINE!r}
    """


def q_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load_table(spark, sf_dir, "embeddings")
    return emb.select(
        F.col("vec_id"), similarity.lsh_bucket_udf(8, 64)("embedding").alias("bucket")
    )


def q_lsh_buckets_oracle() -> str:
    planes = []
    for p in range(8):
        proj = (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            "list_transform(range(0, 64), "
            f"d -> CAST(embedding[CAST(d + 1 AS INTEGER)] AS DOUBLE)"
            f" * ((d * 11 + {p * 37}) % 21 - 10) / 10.0)), (x, y) -> x + y)"
        )
        planes.append(
            f"(CASE WHEN {proj} >= 0 THEN CAST({1 << p} AS BIGINT) ELSE 0 END)"
        )
    return f"SELECT vec_id, {' + '.join(planes)} AS bucket FROM embeddings"


# ===========================================================================
# Interleaved-document queries (the subject table)
# ===========================================================================

_SPANS_SQL = """
    docs AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
                    CAST(4 + doc_id % 5 AS INTEGER) AS n_spans,
                    doc_id AS doc_key
             FROM documents),
    spans AS (SELECT doc_id, doc_key,
        CASE WHEN i % 3 = 2 THEN 'image' ELSE 'text' END AS kind,
        CASE WHEN i % 3 = 2 THEN '' ELSE substr(text, CAST(i*40 + 1 AS INTEGER), 40) END
            AS span_text,
        CASE WHEN i % 3 = 2 THEN 'm' || doc_id || '_' || CAST(i AS VARCHAR) ELSE '' END
            AS media_ref,
        CAST(i AS INTEGER) AS "offset"
        FROM docs, range(0, 100) r(i) WHERE i < n_spans)
"""


def q_span_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-row invariant: span-sequence fingerprint per doc after an
    explode -> shuffle -> reassemble round trip."""
    d = docsrc.with_spans(tables.load_table(spark, sf_dir, "documents"))
    spans = docsrc.exploded_spans(d).repartition(16, "doc_id")  # force a shuffle
    canon = F.concat_ws(
        "|", F.col("offset"), F.col("kind"), F.col("text"), F.col("media_ref")
    )
    seq = F.array_join(
        F.transform(
            F.sort_array(F.collect_list(F.struct(F.col("offset"), canon.alias("s")))),
            lambda x: x["s"],
        ),
        "#",
    )
    return spans.groupBy("doc_id").agg(
        F.md5(seq).alias("span_seq_md5"), F.count("*").alias("n_spans")
    )


def q_span_invariant_oracle() -> str:
    return f"""
    WITH {_SPANS_SQL}
    SELECT doc_id,
      md5(string_agg(CAST("offset" AS VARCHAR) || '|' || kind || '|' || span_text
          || '|' || media_ref, '#' ORDER BY "offset")) AS span_seq_md5,
      COUNT(*) AS n_spans
    FROM spans GROUP BY doc_id
    """


def q_media_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship shape: geotagged media spans -> level-12 tiles."""
    d = docsrc.with_spans(tables.load_table(spark, sf_dir, "documents"))
    spans = docsrc.geotagged_media_spans(d)
    tiled = tiling.tile_points(spans, level=12)
    return (
        tiled.groupBy("tile")
        .agg(F.count("*").alias("n_spans"), F.count_distinct("doc_id").alias("n_docs"))
    )


def q_media_tiles_oracle() -> str:
    geo_key = 'doc_key * 31 + "offset"'
    pts = f"""
    SELECT doc_id, {geo.lat_sql(geo_key)} AS lat, {geo.lng_sql(geo_key)} AS lng
    FROM spans WHERE kind = 'image'
    """
    # lat/lng -> (face,i,j) in SQL trig, then the Hilbert encoder
    fij = f"""
    WITH {_SPANS_SQL},
    ll AS ({pts}),
    p AS (SELECT doc_id, {_XYZ_SQL} FROM ll),
    fc AS (SELECT doc_id, x, y, z, CASE
        WHEN abs(x) > abs(y) THEN (CASE WHEN abs(x) > abs(z)
            THEN (CASE WHEN x < 0 THEN 3 ELSE 0 END)
            ELSE (CASE WHEN z < 0 THEN 5 ELSE 2 END) END)
        ELSE (CASE WHEN abs(y) > abs(z)
            THEN (CASE WHEN y < 0 THEN 4 ELSE 1 END)
            ELSE (CASE WHEN z < 0 THEN 5 ELSE 2 END) END)
      END AS face FROM p),
    uv AS (SELECT doc_id, face,
        CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z
                  WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END AS u,
        CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z
                  WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END AS v
        FROM fc),
    st AS (SELECT doc_id, face,
        CASE WHEN u >= 0 THEN 0.5 * sqrt(1 + 3*u) ELSE 1 - 0.5 * sqrt(1 - 3*u) END AS s,
        CASE WHEN v >= 0 THEN 0.5 * sqrt(1 + 3*v) ELSE 1 - 0.5 * sqrt(1 - 3*v) END AS t
        FROM uv)
    SELECT doc_id AS k, CAST(face AS INTEGER) AS face,
      CAST(greatest(0, least(1073741823, floor((1073741824 * s - 0.5) + 0.5))) AS BIGINT) AS i,
      CAST(greatest(0, least(1073741823, floor((1073741824 * t - 0.5) + 0.5))) AS BIGINT) AS j
    FROM st
    """
    enc = oracle.hilbert_encode_sql(fij, ["k"])
    return f"""
    SELECT {oracle.parent_sql('cell_id', '12')} AS tile, COUNT(*) AS n_spans,
           COUNT(DISTINCT k) AS n_docs
    FROM ({enc}) GROUP BY 1
    """


# ===========================================================================
# Standard relational surface (§2.I)
# ===========================================================================

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "sum_price_cents"
            ),
            F.sum(F.round(F.col("l_discount") * 100).cast("long")).alias(
                "sum_disc_pct"
            ),
        )
    )


def q_pricing_summary_oracle() -> str:
    return """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
      CAST(SUM(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS sum_disc_pct
    FROM lineitem GROUP BY 1, 2
    """


def q_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load_table(spark, sf_dir, "lineitem")
    o = tables.load_table(spark, sf_dir, "orders")
    c = tables.load_table(spark, sf_dir, "customer")
    n = tables.load_table(spark, sf_dir, "nation")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    # Pre-aggregate lineitem to one row per order BEFORE the joins (guide
    # §2.3): the big table's shuffle carries 2 long columns and the
    # count_distinct over the joined rows (planned as a two-phase Expand)
    # becomes a plain count — each order appears exactly once after the
    # pre-aggregation and o_orderkey is unique in orders. Integer sums are
    # associative, so revenue per nation is bit-identical.
    per_order = li.groupBy("l_orderkey").agg(F.sum(rev).alias("_order_rev"))
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum("_order_rev").alias("revenue_cents"),
            F.count("o_orderkey").alias("n_orders"),
        )
    )


def q_nation_revenue_oracle() -> str:
    return """
    SELECT n_name,
      CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
      COUNT(DISTINCT o_orderkey) AS n_orders
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1
    """


def q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.I windows: per-user event ordering — row_number, lag, running
    count over (user_id ORDER BY event_id). Integer outputs only."""
    from pyspark.sql import Window

    ev = tables.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.row_number().over(w).alias("rn"),
        F.lag("event_id", 1).over(w).alias("prev_event"),
        F.count("*").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("running_n"),
    )


def q_event_windows_oracle() -> str:
    return """
    SELECT user_id, event_id,
      row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
      lag(event_id, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_event,
      count(*) OVER (PARTITION BY user_id ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
    FROM events
    """


def q_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n"),
        F.sum(cents).alias("value_cents"),
        F.max("event_id").alias("last_event"),
    )


def q_user_events_oracle() -> str:
    return """
    SELECT user_id, event_type, COUNT(*) AS n,
      CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
      MAX(event_id) AS last_event
    FROM events GROUP BY 1, 2
    """


# ===========================================================================
# Merged gates. The driver's CORRECTNESS artifact records at most 50
# queries (r4 registered 54; the artifact carried exactly the first 50 in
# registry order), so related gates are unioned under a tag column: every
# value the individual gates checked is still value-hashed, in one row set.
# ===========================================================================

def q_region_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1+C2+C6 merged: cap, wrapping-rect, and composite (cap AND rect via
    the coverer) containment, tagged by region kind."""
    cap = q_cap_contains(spark, sf_dir).select(
        F.lit("cap").alias("region"), "k", "inside"
    )
    rect = q_rect_contains(spark, sf_dir).select(
        F.lit("rect").alias("region"), "k", "inside"
    )
    comp = q_composite_region(spark, sf_dir).select(
        F.lit("composite").alias("region"), "k", F.lit(True).alias("inside")
    )
    return cap.unionByName(rect).unionByName(comp)


def q_region_contains_oracle() -> str:
    return f"""
    SELECT 'cap' AS region, k, inside FROM ({q_cap_contains_oracle()})
    UNION ALL
    SELECT 'rect' AS region, k, inside FROM ({q_rect_contains_oracle()})
    UNION ALL
    SELECT 'composite' AS region, k, TRUE AS inside
    FROM ({q_composite_region_oracle()})
    """


def q_pip_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 merged: the pip_join path and the indexed (executor-side
    covering, E2) path, tagged — both must reproduce the same membership
    as the pip_contains oracle. The pip_join tier is tagged 'convex'
    because the oracle SQL text, which names the tag, is frozen."""
    conv = q_pip_contains(spark, sf_dir).select(
        F.lit("convex").alias("variant"), "k", "polygon_id"
    )
    idx = q_pip_indexed(spark, sf_dir).select(
        F.lit("indexed").alias("variant"), "k", "polygon_id"
    )
    return conv.unionByName(idx)


def q_pip_variants_oracle() -> str:
    return f"""
    SELECT 'convex' AS variant, k, polygon_id FROM ({q_pip_contains_oracle()})
    UNION ALL
    SELECT 'indexed' AS variant, k, polygon_id FROM ({q_pip_contains_oracle()})
    """


def q_boolean_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 merged: kernel-constructed intersection and difference polygons,
    membership-checked via the standard PIP join, tagged by op."""
    inter = q_boolean_intersection(spark, sf_dir).select(
        F.lit("intersection").alias("op"), "k"
    )
    diff = q_boolean_difference(spark, sf_dir).select(
        F.lit("difference").alias("op"), "k"
    )
    return inter.unionByName(diff)


def q_boolean_ops_oracle() -> str:
    return f"""
    SELECT 'intersection' AS op, k FROM ({_q_boolean_oracle("intersection")})
    UNION ALL
    SELECT 'difference' AS op, k FROM ({_q_boolean_oracle("difference")})
    """


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-LSH merged: the banded multi-table candidate pairs (the
    scale path) and the single-table bucket ids (the documented small-scale
    form), tagged. Every value the two individual gates checked is still
    value-hashed."""
    pairs = q_ann_lsh_pairs(spark, sf_dir).select(
        F.lit("pair").alias("part"), F.col("a").alias("k"), F.col("b").alias("v")
    )
    buckets = q_lsh_buckets(spark, sf_dir).select(
        F.lit("bucket").alias("part"),
        F.col("vec_id").alias("k"),
        F.col("bucket").alias("v"),
    )
    return pairs.unionByName(buckets)


def q_ann_lsh_oracle() -> str:
    return f"""
    SELECT 'pair' AS part, a AS k, b AS v FROM ({q_ann_lsh_pairs_oracle()})
    UNION ALL
    SELECT 'bucket' AS part, vec_id AS k, bucket AS v
    FROM ({q_lsh_buckets_oracle()})
    """


# Training-mix gate parameters: 50/25/15/10 over four sources, 37 rows.
# Uncapped at every SF (max quota 18 < 25 docs/source), so the allocation
# is a pure function of (weights, total) and the SQL oracle can inline the
# same counts computed by the same code.
MIX_WEIGHTS = {"src0": 0.5, "src1": 0.25, "src2": 0.15, "src3": 0.10}
MIX_TOTAL = 37


def _mix_counts() -> dict:
    return sampling.mixture_allocation(
        {k: 1 << 30 for k in MIX_WEIGHTS}, MIX_WEIGHTS, MIX_TOTAL
    )


def q_relational_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.I merged: the four plain relational gates (TPC-H Q1-style pricing
    summary, 4-way join nation revenue, event aggregation, window functions)
    normalized to one tagged schema. All outputs are exact ints/strings."""
    pricing = q_pricing_summary(spark, sf_dir).select(
        F.lit("pricing").alias("gate"),
        F.col("l_returnflag").alias("k1"),
        F.col("l_linestatus").alias("k2"),
        F.col("n").alias("v1"),
        F.col("sum_qty").alias("v2"),
        F.col("sum_price_cents").alias("v3"),
        F.col("sum_disc_pct").alias("v4"),
    )
    nation = q_nation_revenue(spark, sf_dir).select(
        F.lit("nation").alias("gate"),
        F.col("n_name").alias("k1"),
        F.lit("").alias("k2"),
        F.col("revenue_cents").alias("v1"),
        F.col("n_orders").alias("v2"),
        F.lit(0).cast("long").alias("v3"),
        F.lit(0).cast("long").alias("v4"),
    )
    users = q_user_events(spark, sf_dir).select(
        F.lit("user").alias("gate"),
        F.col("user_id").cast("string").alias("k1"),
        F.col("event_type").alias("k2"),
        F.col("n").alias("v1"),
        F.col("value_cents").alias("v2"),
        F.col("last_event").cast("long").alias("v3"),
        F.lit(0).cast("long").alias("v4"),
    )
    windows = q_event_windows(spark, sf_dir).select(
        F.lit("window").alias("gate"),
        F.col("user_id").cast("string").alias("k1"),
        F.col("event_id").cast("string").alias("k2"),
        F.col("rn").cast("long").alias("v1"),
        F.coalesce(F.col("prev_event").cast("long"), F.lit(-1)).alias("v2"),
        F.col("running_n").alias("v3"),
        F.lit(0).cast("long").alias("v4"),
    )
    ev = tables.load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    sess = sessions.session_stats(
        ev, "user_id", "ts", "event_id", gap_seconds=21600, cents_col=cents
    ).select(
        F.lit("session").alias("gate"),
        F.col("user_id").cast("string").alias("k1"),
        F.col("session_seq").cast("string").alias("k2"),
        F.col("n_events").alias("v1"),
        F.col("first_ts").alias("v2"),
        F.col("last_ts").alias("v3"),
        F.col("value_cents").alias("v4"),
    )
    # training-mix tier: largest-remainder apportionment + hash-ranked
    # without-replacement draw (operators/sampling.mixture_sample). The
    # budget is sized so availability caps never bind at any SF (every
    # source holds >= 25 docs); the capped/redistribution path is
    # pytest-covered (test_mixture_sampling.py).
    d = tables.load_table(spark, sf_dir, "documents")
    mix = sampling.mixture_sample(
        d, MIX_WEIGHTS, MIX_TOTAL, "source", "doc_id", seed=9
    ).select(
        F.lit("mix").alias("gate"),
        F.col("source").alias("k1"),
        F.col("doc_id").cast("string").alias("k2"),
        F.col("n_chars").alias("v1"),
        F.lit(0).cast("long").alias("v2"),
        F.lit(0).cast("long").alias("v3"),
        F.lit(0).cast("long").alias("v4"),
    )
    # corpus-reporting tier: exact nearest-rank token-count percentiles per
    # source (textstats.grouped_percentiles — one group-keyed window pass).
    rtok = d.select(
        F.col("source"), textstats.regex_token_count("text").alias("re_tokens")
    )
    pct = textstats.grouped_percentiles(
        rtok, "source", "re_tokens", (50, 90)
    ).select(
        F.lit("pct").alias("gate"),
        F.col("grp").alias("k1"),
        F.col("pct").cast("string").alias("k2"),
        F.col("v").cast("long").alias("v1"),
        F.col("n").alias("v2"),
        F.lit(0).cast("long").alias("v3"),
        F.lit(0).cast("long").alias("v4"),
    )
    return (
        pricing.unionByName(nation)
        .unionByName(users)
        .unionByName(windows)
        .unionByName(sess)
        .unionByName(mix)
        .unionByName(pct)
    )


def q_relational_suite_oracle() -> str:
    counts = _mix_counts()
    mix_srcs = ", ".join(f"'{s}'" for s in sorted(MIX_WEIGHTS))
    mix_cases = " ".join(
        f"WHEN '{s}' THEN {counts[s]}" for s in sorted(MIX_WEIGHTS)
    )
    return f"""
    SELECT 'pricing' AS gate, l_returnflag AS k1, l_linestatus AS k2,
           n AS v1, sum_qty AS v2, sum_price_cents AS v3, sum_disc_pct AS v4
    FROM ({q_pricing_summary_oracle()})
    UNION ALL
    SELECT 'nation', n_name, '', revenue_cents, n_orders, 0, 0
    FROM ({q_nation_revenue_oracle()})
    UNION ALL
    SELECT 'user', CAST(user_id AS VARCHAR), event_type,
           n, value_cents, CAST(last_event AS BIGINT), 0
    FROM ({q_user_events_oracle()})
    UNION ALL
    SELECT 'window', CAST(user_id AS VARCHAR), CAST(event_id AS VARCHAR),
           CAST(rn AS BIGINT), COALESCE(CAST(prev_event AS BIGINT), -1),
           CAST(running_n AS BIGINT), 0
    FROM ({q_event_windows_oracle()})
    UNION ALL
    SELECT 'session', CAST(user_id AS VARCHAR), CAST(session_seq AS VARCHAR),
           n_events, first_ts, last_ts, value_cents
    FROM (
      WITH lagged AS (
        SELECT user_id, event_id, value, ts, epoch_ms(ts) // 1000 AS ts_s,
               lag(epoch_ms(ts) // 1000) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) AS prev_s
        FROM events),
      flagged AS (
        SELECT *, CASE WHEN prev_s IS NULL OR ts_s - prev_s > 21600
                       THEN 1 ELSE 0 END AS brk
        FROM lagged),
      seq AS (
        SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM flagged)
      SELECT user_id, session_seq, COUNT(*) AS n_events,
             CAST(MIN(ts_s) AS BIGINT) AS first_ts,
             CAST(MAX(ts_s) AS BIGINT) AS last_ts,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
      FROM seq GROUP BY 1, 2)
    UNION ALL
    SELECT 'mix', source, CAST(doc_id AS VARCHAR), n_chars, 0, 0, 0
    FROM (
      SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
                 ORDER BY {sampling.hash01_sql('doc_id', 9)} ASC, doc_id ASC
             ) AS rk
      FROM documents WHERE source IN ({mix_srcs}))
    WHERE rk <= CASE source {mix_cases} ELSE 0 END
    UNION ALL
    SELECT 'pct', grp, CAST(pct AS VARCHAR), CAST(v AS BIGINT), n, 0, 0
    FROM (
      WITH rtok AS (SELECT source AS grp,
          len(regexp_extract_all(lower(text), '{textstats.TOKEN_REGEX}')) AS v
          FROM documents),
      rankedp AS (SELECT grp, v,
          row_number() OVER (PARTITION BY grp ORDER BY v) AS rn,
          COUNT(*) OVER (PARTITION BY grp) AS n FROM rtok)
      SELECT grp, 50 AS pct, v, n FROM rankedp WHERE rn = (n * 50 + 99) // 100
      UNION ALL
      SELECT grp, 90 AS pct, v, n FROM rankedp WHERE rn = (n * 90 + 99) // 100)
    """


def _lax_quad_corners(k: int):
    """Pair geometry from an integer key: quad A and quad B whose spatial
    relationship is selected by k % 4 (0 overlap, 1 shared full edge,
    2 shared single vertex, 3 disjoint); position varies with k."""
    lat0 = -20.0 + ((k * 7) % 9) * 5.0
    lng0 = -60.0 + ((k * 13) % 7) * 18.0
    r = k % 4
    dlat, dlng = {0: (0.0, 3.0), 1: (0.0, 6.0), 2: (6.0, 6.0), 3: (0.0, 9.0)}[r]
    a = (lat0, lat0 + 6.0, lng0, lng0 + 6.0)
    b = (lat0 + dlat, lat0 + 6.0 + dlat, lng0 + dlng, lng0 + 6.0 + dlng)
    return a, b


_LAX_MODES = ["KEEP", "DISCARD", "DISCARD_HOLES", "DISCARD_SHELLS"]


def q_lax_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lax polygon layer over mixed-dimension boolean output
    (S2LaxPolygonLayer.java:134,204 DegenerateBoundaries KEEP / DISCARD /
    DISCARD_HOLES / DISCARD_SHELLS; S2PolygonDegeneracyFinder.java:82):
    per orders-key pair of quads (overlapping / edge-tangent /
    vertex-tangent / disjoint by k%4), run the CLOSED intersection and
    OPEN union through boolean_op_mixed, assemble polygon + degeneracies
    through LaxPolygonLayer under every mode, and emit loop-class counts.
    The oracle derives the expected counts arithmetically from the pair
    relationship: an edge tangency yields one degenerate sibling-pair
    loop classified as a SHELL under closed intersection (kept by
    DISCARD_HOLES, dropped by DISCARD_SHELLS) and as a crack HOLE inside
    the open union (dropped by DISCARD_HOLES, splitting the union into 2
    loops when kept); a vertex tangency yields one degenerate point
    loop."""
    from .operators import laxops

    keys = (
        tables.load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("k"))
        .where(F.col("k") < 120)
    )

    def make_pairs(batches):
        for pdf in batches:
            rows = []
            for k in pdf["k"]:
                a, b = _lax_quad_corners(int(k))
                rows.append((int(k), _bp_quad_text(*a), _bp_quad_text(*b),
                             "intersection", "closed"))
                rows.append((int(k), _bp_quad_text(*a), _bp_quad_text(*b),
                             "union", "open"))
            yield pd.DataFrame(
                rows, columns=["pair_id", "a_text", "b_text", "op", "model"]
            )

    pairs = keys.repartition(4).mapInPandas(
        make_pairs,
        "pair_id long, a_text string, b_text string, op string, model string",
    )
    out = laxops.lax_boolean_counts(pairs, _LAX_MODES)
    return out.select(
        F.col("pair_id").alias("k"),
        F.concat_ws("_", "model", "op").alias("family"),
        "mode",
        F.col("n_regular").cast("long").alias("n_regular"),
        F.col("n_edge").cast("long").alias("n_edge"),
        F.col("n_point").cast("long").alias("n_point"),
    )


def q_lax_layers_oracle() -> str:
    return """
    WITH keys AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey < 120),
    modes(mode) AS (VALUES ('KEEP'), ('DISCARD'),
                           ('DISCARD_HOLES'), ('DISCARD_SHELLS')),
    fams(family) AS (VALUES ('closed_intersection'), ('open_union')),
    g AS (SELECT k, family, mode, k % 4 AS r
          FROM keys CROSS JOIN modes CROSS JOIN fams)
    SELECT k, family, mode,
      CAST(CASE WHEN family = 'closed_intersection'
            THEN CASE WHEN r = 0 THEN 1 ELSE 0 END
            ELSE CASE WHEN r = 0 THEN 1
                      WHEN r = 1 THEN
                        CASE WHEN mode IN ('KEEP', 'DISCARD_SHELLS')
                             THEN 2 ELSE 1 END
                      ELSE 2 END
           END AS BIGINT) AS n_regular,
      CAST(CASE WHEN family = 'closed_intersection' AND r = 1
                 AND mode IN ('KEEP', 'DISCARD_HOLES')
            THEN 1 ELSE 0 END AS BIGINT) AS n_edge,
      CAST(CASE WHEN family = 'closed_intersection' AND r = 2
                 AND mode IN ('KEEP', 'DISCARD_HOLES')
            THEN 1 ELSE 0 END AS BIGINT) AS n_point
    FROM g
    """


def q_cell_index_contents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3/F stabbing surface: S2CellIndex (cellId, label) multimap queried
    by target cells (S2CellIndex.java:60 ContentsIterator, :225
    visitIntersectingCells) as two ancestor equi-joins
    (operators/cellindex.intersecting_pairs). Index = customer-derived
    cells at mixed levels 8-12 with labels k%37 (a true multimap:
    duplicate cells and duplicate (cell,label) pairs occur); targets =
    order-derived cells at levels 9-11 grouped 8-per-query, so one query
    unions several leaf ranges and the at-most-once visit guarantee is
    load-bearing. The oracle is the direct range-overlap semantics on the
    SQL-encoded cell ids (nested-or-disjoint leaf ranges); the leaf ids
    come from the Arrow encoder (udfs.cell_id_from_face_ij)."""
    from .operators import cellindex

    cust = _points_from_keys(
        tables.load_table(spark, sf_dir, "customer"), "c_custkey"
    ).where(F.col("k") < 2000)
    idx = cust.select(
        cc.parent(
            udfs.cell_id_from_face_ij("face", "i", "j"),
            (F.col("k") % 5 + 8).cast("int"),
        ).alias("cell_id"),
        (F.col("k") % 37).alias("label"),
    )
    ords = _points_from_keys(
        tables.load_table(spark, sf_dir, "orders"), "o_orderkey"
    ).where(F.col("k") < 48)
    tgt = ords.select(
        ((F.col("k") - F.col("k") % 8) / 8).cast("long").alias("query_id"),
        cc.parent(
            udfs.cell_id_from_face_ij("face", "i", "j"),
            (F.col("k") % 3 + 9).cast("int"),
        ).alias("target"),
    )
    return cellindex.intersecting_pairs(idx, tgt)


def q_cell_index_contents_oracle() -> str:
    enc_c = oracle.hilbert_encode_sql(_pts_sql("customer", "c_custkey"), ["k"])
    enc_o = oracle.hilbert_encode_sql(_pts_sql("orders", "o_orderkey"), ["k"])
    i_min = oracle.range_min_sql("i.cell_id")
    i_max = oracle.range_max_sql("i.cell_id")
    t_min = oracle.range_min_sql("t.target")
    t_max = oracle.range_max_sql("t.target")
    return f"""
    WITH idx0 AS ({enc_c}),
    idx AS (SELECT {oracle.parent_sql('cell_id', '(k % 5 + 8)')} AS cell_id,
                   k % 37 AS label
            FROM idx0 WHERE k < 2000),
    tgt0 AS ({enc_o}),
    tgt AS (SELECT CAST((k - k % 8) / 8 AS BIGINT) AS query_id,
                   {oracle.parent_sql('cell_id', '(k % 3 + 9)')} AS target
            FROM tgt0 WHERE k < 48)
    SELECT DISTINCT t.query_id, i.cell_id, i.label
    FROM idx i JOIN tgt t
    ON NOT ({i_max} < {t_min} OR {t_max} < {i_min})
    """


def _validation_fixture_loops(k: int) -> list:
    """Per-key polygon fixture whose S2ValidQuery verdict is determined by
    k % 6: 0 valid, 1 degenerate edge, 2 self-intersection, 3 duplicate
    (reverse) edge across loops, 4 shared-vertex wedge crossing,
    5 wrong-orientation (CCW) hole."""
    lat0 = -20.0 + ((k * 3) % 9) * 5.0
    lng0 = -60.0 + ((k * 5) % 7) * 18.0
    f = k % 6

    def V(pts):
        return rg.Loop.from_latlng_degrees(pts).vertices

    def quad(la, lo, h=6.0):
        return V([(la, lo), (la, lo + h), (la + h, lo + h), (la + h, lo)])

    if f == 0:
        return [quad(lat0, lng0)]
    if f == 1:
        v = quad(lat0, lng0)
        return [np.vstack([v, v[-1]])]
    if f == 2:  # bowtie
        return [V([(lat0, lng0), (lat0 + 6, lng0 + 6),
                   (lat0, lng0 + 6), (lat0 + 6, lng0)])]
    if f == 3:  # two quads sharing a full edge (reverse duplicate)
        return [quad(lat0, lng0), quad(lat0, lng0 + 6.0)]
    if f == 4:  # lens + chain through it sharing both pinch vertices
        a, b = (lat0, lng0), (lat0 + 10.0, lng0)
        l1 = V([a, (lat0 + 5, lng0 + 3), b, (lat0 + 5, lng0 + 8)])
        l2 = V([a, (lat0 + 5, lng0 + 5), b, (lat0 + 5, lng0 - 8)])
        return [l1, l2]
    # f == 5: CCW hole inside a CCW shell (interior on the right)
    return [
        quad(lat0, lng0, 10.0),
        V([(lat0 + 2, lng0 + 2), (lat0 + 2, lng0 + 8),
           (lat0 + 8, lng0 + 8), (lat0 + 8, lng0 + 2)]),
    ]


def q_validation_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 depth: the S2ValidQuery constraint tier stack
    (S2ValidationQueries.java:325; duplicate edges :1089, vertex
    crossings :832, chain orientation :1013; plus
    S2PolygonDegeneracyFinder-adjacent basics) over per-key polygon
    fixtures spanning valid, degenerate, self-intersecting,
    duplicate-edge, vertex-crossing, and mis-oriented-hole shapes. The
    kernel runs executor-side in mapInPandas; the oracle derives the
    expected verdict class arithmetically from the fixture family."""
    keys = (
        tables.load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("k"))
        .where(F.col("k") < 180)
    )

    def run(batches):
        from .kernel import validation as val

        for pdf in batches:
            rows = []
            for k in pdf["k"]:
                err = val.find_valid_query_error(_validation_fixture_loops(int(k)))
                rows.append((int(k), "ok" if err is None else err[0]))
            yield pd.DataFrame(rows, columns=["k", "verdict"])

    return keys.repartition(4).mapInPandas(run, "k long, verdict string")


def q_validation_verdicts_oracle() -> str:
    return """
    SELECT o_orderkey AS k,
      CASE o_orderkey % 6
        WHEN 0 THEN 'ok'
        WHEN 1 THEN 'degenerate_edge'
        WHEN 2 THEN 'self_intersection'
        WHEN 3 THEN 'duplicate_edge'
        WHEN 4 THEN 'vertex_crossing'
        ELSE 'orientation'
      END AS verdict
    FROM orders WHERE o_orderkey < 180
    """


# ===========================================================================
# Registry — EXACTLY 50 entries. The driver records at most 50 CORRECTNESS
# rows; tests/test_queries_oracle.py pins len(all_queries()) <= 50 so the
# artifact row set always equals the registry.
# ===========================================================================

def all_queries():
    return {
        "cellid_encode": q_cellid_encode,
        "cellid_roundtrip": q_cellid_roundtrip,
        "cell_algebra": q_cell_algebra,
        "cell_measures": q_cell_measures,
        "tile_counts": q_tile_counts,
        "mercator_tiles": q_mercator_tiles,
        "face_counts": q_face_counts,
        "region_contains": q_region_contains,
        "pip_contains": q_pip_contains,
        "pip_variants": q_pip_variants,
        "pip_general": q_pip_general,
        "knn_brute": q_knn_brute,
        "knn_cell": q_knn_cell,
        "tolerant_pairs": q_tolerant_pairs,
        "near_polygon": q_near_polygon,
        "closest_edge": q_closest_edge,
        "furthest_edge": q_furthest_edge,
        "chain_project": q_chain_project,
        "edge_target_closest": q_edge_target_closest,
        "crossing_pairs": q_crossing_pairs,
        "hausdorff_witness": q_hausdorff_witness,
        "chain_interp": q_chain_interp,
        "convex_hull": q_convex_hull,
        "pip_models": q_pip_models,
        "boolean_degenerate": q_boolean_degenerate,
        "polygon_relations": q_polygon_relations,
        "boolean_pairs": q_boolean_pairs,
        "buffer_geometry": q_buffer_geometry,
        "winding_union": q_winding_union,
        "buffered_region": q_buffered_region,
        "boolean_ops": q_boolean_ops,
        "covering_tokens": q_covering_tokens,
        "region_terms": q_region_terms,
        "dedup_exact": q_dedup_exact,
        "minhash_signatures": q_minhash_signatures,
        "simhash": q_simhash,
        "doc_stats": q_doc_stats,
        "ann_topk": q_ann_topk,
        "ann_ivf": q_ann_ivf,
        "ann_lsh": q_ann_lsh,
        "span_invariant": q_span_invariant,
        "media_tiles": q_media_tiles,
        "lsh_pairs": q_lsh_pairs,
        "jaccard_pairs": q_jaccard_pairs,
        "dedup_clusters": q_dedup_clusters,
        "union_intersection_membership": q_union_intersection_membership,
        "relational_suite": q_relational_suite,
        "lax_layers": q_lax_layers,
        "cell_index_contents": q_cell_index_contents,
        "validation_verdicts": q_validation_verdicts,
    }


def all_oracles():
    return {
        "cellid_encode": q_cellid_encode_oracle(),
        "cellid_roundtrip": q_cellid_roundtrip_oracle(),
        "cell_algebra": q_cell_algebra_oracle(),
        "cell_measures": q_cell_measures_oracle(),
        "tile_counts": q_tile_counts_oracle(),
        "mercator_tiles": q_mercator_tiles_oracle(),
        "face_counts": q_face_counts_oracle(),
        "region_contains": q_region_contains_oracle(),
        "pip_contains": q_pip_contains_oracle(),
        "pip_variants": q_pip_variants_oracle(),
        "pip_general": q_pip_general_oracle(),
        "knn_brute": _knn_oracle(),
        "knn_cell": _knn_oracle(),
        "tolerant_pairs": q_tolerant_pairs_oracle(),
        "near_polygon": q_near_polygon_oracle(),
        "closest_edge": q_closest_edge_oracle(),
        "furthest_edge": q_furthest_edge_oracle(),
        "chain_project": q_chain_project_oracle(),
        "edge_target_closest": q_edge_target_closest_oracle(),
        "crossing_pairs": q_crossing_pairs_oracle(),
        "hausdorff_witness": q_hausdorff_witness_oracle(),
        "chain_interp": q_chain_interp_oracle(),
        "buffered_region": q_buffered_region_oracle(),
        "boolean_ops": q_boolean_ops_oracle(),
        "convex_hull": q_convex_hull_oracle(),
        "pip_models": q_pip_models_oracle(),
        "boolean_degenerate": q_boolean_degenerate_oracle(),
        "polygon_relations": q_polygon_relations_oracle(),
        "boolean_pairs": q_boolean_pairs_oracle(),
        "buffer_geometry": q_buffer_geometry_oracle(),
        "winding_union": q_winding_union_oracle(),
        "covering_tokens": q_covering_tokens_oracle(),
        "region_terms": q_region_terms_oracle(),
        "dedup_exact": q_dedup_exact_oracle(),
        "minhash_signatures": q_minhash_signatures_oracle(),
        "simhash": q_simhash_oracle(),
        "doc_stats": q_doc_stats_oracle(),
        "ann_topk": q_ann_topk_oracle(),
        "ann_ivf": q_ann_ivf_oracle(),
        "ann_lsh": q_ann_lsh_oracle(),
        "span_invariant": q_span_invariant_oracle(),
        "media_tiles": q_media_tiles_oracle(),
        "lsh_pairs": q_lsh_pairs_oracle(),
        "jaccard_pairs": q_jaccard_pairs_oracle(),
        "dedup_clusters": q_dedup_clusters_oracle(),
        "union_intersection_membership": q_union_intersection_membership_oracle(),
        "relational_suite": q_relational_suite_oracle(),
        "lax_layers": q_lax_layers_oracle(),
        "cell_index_contents": q_cell_index_contents_oracle(),
        "validation_verdicts": q_validation_verdicts_oracle(),
    }


# ===========================================================================
# Near-duplicate pair queries (duplicates synthesized: each doc plus a
# truncated twin, so the pair-finding paths have real positives to find)
# ===========================================================================

def _docs_with_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    twins = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.substring(F.col("text"), 1, F.greatest(F.length("text") - 60, F.lit(1))).alias(
            "text"
        ),
    )
    return d.unionByName(twins)


_DOCS_DUP_SQL = """
    docs_dup AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               substr(text, 1, greatest(length(text) - 60, 1)) AS text
        FROM documents)
"""


def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs over docs + truncated twins, annotated
    with the signature-match Jaccard estimate (dedup.lsh_pairs_with_estimates
    — the filter-before-exact-verify step)."""
    return dedup.lsh_pairs_with_estimates(
        _docs_with_near_dups(spark, sf_dir), "doc_id", "text", n_hashes=8, band_rows=2
    )


def q_lsh_pairs_oracle() -> str:
    mins = ", ".join(
        f"MIN({oracle.md5_hash32_sql('sh', s)}) AS mh_{s}" for s in range(8)
    )
    bands = " UNION ALL ".join(
        f"SELECT id, CAST({b} AS VARCHAR) || '_' || CAST(mh_{2*b} AS VARCHAR) || '_' || "
        f"CAST(mh_{2*b+1} AS VARCHAR) AS band FROM sig"
        for b in range(4)
    )
    return f"""
    WITH {_DOCS_DUP_SQL},
    words AS (SELECT doc_id AS id,
        string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), ' +') AS w
        FROM docs_dup),
    sh AS (SELECT id, unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
           FROM words),
    sig AS (SELECT id, {mins} FROM sh GROUP BY id),
    bands AS ({bands}),
    cand AS (SELECT DISTINCT l.id AS a, r.id AS b
             FROM bands l JOIN bands r ON l.band = r.band AND l.id < r.id),
    est AS (SELECT a, b,
        {" + ".join(f"(CASE WHEN sa.mh_{s} = sb.mh_{s} THEN 1 ELSE 0 END)" for s in range(8))}
        AS sig_matches
        FROM cand JOIN sig sa ON sa.id = cand.a JOIN sig sb ON sb.id = cand.b)
    SELECT a, b, CAST(sig_matches AS BIGINT) AS sig_matches,
           CAST((sig_matches * 100) // 8 AS BIGINT) AS est_pct
    FROM est
    """


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERING: the MinHash-LSH candidate pairs contracted
    to duplicate clusters by alternating large-star/small-star connected
    components (O(log n) shuffle rounds — the 100-TB dedup shape); every
    doc, including singletons, is assigned its min-reachable-id component.
    Keep-one-per-cluster is ``WHERE doc_id = component``."""
    docs = _docs_with_near_dups(spark, sf_dir)
    clusters = dedup.near_dup_clusters(
        docs, "doc_id", "text", n_hashes=8, band_rows=2
    )
    qual = docs.select(
        F.col("doc_id").alias("id"),
        textstats.quality_score("text").alias("quality"),
    )
    return dedup.keep_best_per_cluster(clusters, qual).select(
        F.col("id").alias("doc_id"), "component", "is_kept"
    )


def q_dedup_clusters_oracle() -> str:
    """Recursive-CTE transitive closure: component = MIN(id) reachable over
    the (symmetric) candidate-pair edges — the same representative rule the
    star contraction computes — plus the keep-best verdict (quality desc,
    id asc within each component, mirroring dedup.keep_best_per_cluster)."""
    stop_list = ", ".join(f"'{w}'" for w in textstats.STOPWORDS)
    sw = f"len([x for x in wv if list_contains([{stop_list}], x)])"
    ws = (
        "CASE WHEN trim(text) = '' THEN 0 "
        "ELSE len(string_split_regex(trim(text), '\\s+')) END"
    )
    puncts = "len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))"
    quality = (
        f"least(length(text) // 20, 40)"
        f" + greatest(least(40 - (100 * {puncts}) // greatest(length(text), 1), 40), 0)"
        f" + least((200 * {sw}) // greatest({ws}, 1), 20)"
    )
    return f"""
    WITH RECURSIVE pairs AS ({q_lsh_pairs_oracle()}),
    {_DOCS_DUP_SQL},
    edges AS (SELECT a AS s, b AS d FROM pairs
              UNION SELECT b AS s, a AS d FROM pairs),
    walk(id, comp) AS (
        SELECT DISTINCT s, s FROM edges
        UNION
        SELECT e.s, w.comp FROM edges e JOIN walk w ON w.id = e.d
    ),
    comp AS (SELECT id, MIN(comp) AS component FROM walk GROUP BY id),
    assigned AS (
        SELECT dd.doc_id, COALESCE(c.component, dd.doc_id) AS component,
               dd.text,
               string_split_regex(trim(regexp_replace(lower(dd.text),
                   '[^a-z ]', ' ', 'g')), ' +') AS wv
        FROM docs_dup dd LEFT JOIN comp c ON c.id = dd.doc_id),
    scoredq AS (SELECT doc_id, component, {quality} AS quality FROM assigned)
    SELECT doc_id, component,
           row_number() OVER (PARTITION BY component
               ORDER BY quality DESC, doc_id) = 1 AS is_kept
    FROM scoredq
    """


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged union: exact n-gram Jaccard >= 0.5 pairs (integer-exact
    threshold compare) + benchmark decontamination (5-gram collisions vs
    a broadcast eval-set slice — the corpus side never shuffles)."""
    docs = _docs_with_near_dups(spark, sf_dir)
    jac = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold_pct=50, max_doc_freq=50
    ).select(F.lit("jaccard").alias("kind"), "a", "b", "common", "union_sz")
    bench = (
        tables.load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 37 == 5)
        .select(F.col("doc_id").alias("bench_id"), "text")
    )
    contam = (
        dedup.ngram_contamination(docs, bench, shingle_n=5)
        .where(F.col("doc_id") != F.col("bench_id"))
        .select(
            F.lit("contam").alias("kind"),
            F.col("doc_id").alias("a"),
            F.col("bench_id").alias("b"),
            F.col("collisions").alias("common"),
            F.col("bench_size").alias("union_sz"),
        )
    )
    return jac.unionByName(contam)


def q_jaccard_pairs_oracle() -> str:
    gram5 = " || ' ' || ".join(f"w[i+{k}]" if k else "w[i]" for k in range(5))
    return f"""
    WITH {_DOCS_DUP_SQL},
    words AS (SELECT doc_id AS id,
        string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), ' +') AS w
        FROM docs_dup),
    sh0 AS (SELECT id, unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
            FROM words),
    sh AS (SELECT DISTINCT id, sh FROM sh0),
    freq AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh),
    kept AS (SELECT sh.id, sh.sh FROM sh JOIN freq USING (sh) WHERE freq.df <= 50),
    sizes AS (SELECT id, COUNT(*) AS n_sh FROM kept GROUP BY id),
    pairs AS (SELECT l.id AS a, r.id AS b, COUNT(*) AS common
              FROM kept l JOIN kept r ON l.sh = r.sh AND l.id < r.id
              GROUP BY l.id, r.id),
    t5 AS (SELECT id, unnest(list_transform(range(1, greatest(len(w) - 3, 1)),
           i -> {gram5})) AS sh
           FROM words),
    bwords AS (SELECT doc_id AS bid,
        string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), ' +') AS w
        FROM documents WHERE doc_id % 37 = 5),
    b5 AS (SELECT DISTINCT bid, sh FROM (
           SELECT bid, unnest(list_transform(range(1, greatest(len(w) - 3, 1)),
           i -> {gram5})) AS sh
           FROM bwords)),
    bsz AS (SELECT bid, COUNT(*) AS bench_size FROM b5 GROUP BY bid),
    hits AS (SELECT t5.id AS a, b5.bid AS b, COUNT(DISTINCT t5.sh) AS common
             FROM t5 JOIN b5 USING (sh) WHERE t5.id <> b5.bid
             GROUP BY 1, 2)
    SELECT 'jaccard' AS kind, a, b, CAST(common AS BIGINT) AS common,
           CAST(sa.n_sh + sb.n_sh - common AS BIGINT) AS union_sz
    FROM pairs
    JOIN sizes sa ON sa.id = a
    JOIN sizes sb ON sb.id = b
    WHERE 100 * common >= 50 * (sa.n_sh + sb.n_sh - common)
    UNION ALL
    SELECT 'contam' AS kind, a, b, CAST(common AS BIGINT) AS common,
           CAST(bench_size AS BIGINT) AS union_sz
    FROM hits JOIN bsz ON bsz.bid = hits.b
    """


def q_union_intersection_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10/C5: points inside the INTERSECTION of two cap coverings, where
    the intersection is computed by the DataFrame cell-union operator and
    membership is the broadcast join on the collected intersection."""
    from .operators import cellindex

    coverer = cov.RegionCoverer(max_cells=24)

    def covering(lat, lng):
        ids = s2.to_signed(coverer.get_covering(rg.Cap.from_latlng_deg(lat, lng, 12.0)))
        return local_df(spark, [(int(c),) for c in ids], "cell_id long")

    inter = cellindex.intersection(covering(20.0, 30.0), covering(24.0, 36.0))
    inter = [r["cell_id"] for r in inter.collect()]
    pts = tables.load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        geo.lat_col("c_custkey").alias("lat"),
        geo.lng_col("c_custkey").alias("lng"),
    )
    pts = pts.withColumn(
        "leaf", udfs.cell_id_from_latlng_deg(F.col("lat"), F.col("lng"), 30)
    )
    return _covering_members(spark, pts, inter).select("k")


def q_union_intersection_membership_oracle() -> str:
    """Oracle: inline the two coverings' leaf ranges (driver-computed), and
    a point is in the intersection iff it is in an A-range AND a B-range —
    range membership is independent of the union set-op implementation."""
    from .kernel import coverer as _cov

    cap_a = rg.Cap.from_latlng_deg(20.0, 30.0, 12.0)
    cap_b = rg.Cap.from_latlng_deg(24.0, 36.0, 12.0)
    coverer = _cov.RegionCoverer(max_cells=24)

    def ranges(cap):
        ids = np.array(coverer.get_covering(cap), dtype=np.uint64)
        lo = s2.to_biased(s2.range_min(ids))
        hi = s2.to_biased(s2.range_max(ids))
        return ",".join(f"({int(a)},{int(b)})" for a, b in zip(lo, hi))

    enc = oracle.hilbert_encode_sql(
        f"""SELECT k, face, i, j FROM (
        WITH ll AS ({_latlng_sql('customer', 'c_custkey')}),
        p AS (SELECT k, {_XYZ_SQL} FROM ll),
        fc AS (SELECT k, x, y, z, CASE
            WHEN abs(x) > abs(y) THEN (CASE WHEN abs(x) > abs(z)
                THEN (CASE WHEN x < 0 THEN 3 ELSE 0 END)
                ELSE (CASE WHEN z < 0 THEN 5 ELSE 2 END) END)
            ELSE (CASE WHEN abs(y) > abs(z)
                THEN (CASE WHEN y < 0 THEN 4 ELSE 1 END)
                ELSE (CASE WHEN z < 0 THEN 5 ELSE 2 END) END)
          END AS face FROM p),
        uv AS (SELECT k, face,
            CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z
                      WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END AS u,
            CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z
                      WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END AS v
            FROM fc),
        st AS (SELECT k, face,
            CASE WHEN u >= 0 THEN 0.5*sqrt(1+3*u) ELSE 1-0.5*sqrt(1-3*u) END AS s,
            CASE WHEN v >= 0 THEN 0.5*sqrt(1+3*v) ELSE 1-0.5*sqrt(1-3*v) END AS t
            FROM uv)
        SELECT k, CAST(face AS INTEGER) AS face,
          CAST(greatest(0, least(1073741823, floor((1073741824*s - 0.5) + 0.5))) AS BIGINT) AS i,
          CAST(greatest(0, least(1073741823, floor((1073741824*t - 0.5) + 0.5))) AS BIGINT) AS j
        FROM st)""",
        ["k"],
    )
    return f"""
    WITH enc AS ({enc}),
    leafb AS (SELECT k, {oracle.biased_sql('cell_id')} AS lb FROM enc),
    ra(lo, hi) AS (VALUES {ranges(cap_a)}),
    rb(lo, hi) AS (VALUES {ranges(cap_b)})
    SELECT k FROM leafb
    WHERE EXISTS (SELECT 1 FROM ra WHERE lb BETWEEN ra.lo AND ra.hi)
      AND EXISTS (SELECT 1 FROM rb WHERE lb BETWEEN rb.lo AND rb.hi)
    """
