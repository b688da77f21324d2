"""The full lat/lng -> S2 cell-id encode as PURE Spark Column expressions.

Zero Python in the hot path: trig (JVM Math), face selection (when-chains),
quadratic ST, and the 8-step Hilbert lookup — each step an ``element_at``
gather on a 1024-int literal array — all inside whole-stage codegen.

Why this exists alongside the Arrow kernel (functions/udfs.py): pandas UDFs
pay a JVM<->Python Arrow boundary per batch; on syscall-expensive hosts
(microVMs) that boundary dominates and even anti-scales with cores. The
Column form keeps the tiling hot path in one codegen stage. The numpy
kernel remains the reference implementation (bit-matched to the upstream
fixtures); both are cross-checked in tests — the only divergence channel is
last-ulp libm differences at cell boundaries (~1e-7 of adversarial inputs).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..kernel.cellid import LOOKUP_POS, MAX_SIZE, POS_BITS

_LUT = [int(v) for v in LOOKUP_POS]

_LUT_LIT: Column | None = None


def _lut_lit() -> Column:
    """The 1024-entry LOOKUP_POS array as a cached Literal Column.

    ``F.lit(list)`` costs ~0.8 s of py4j round-trips PER CALL for an array
    this size — pure driver-side plan-build overhead charged to every query
    that encodes cell ids. The Literal expression is immutable and
    session-independent, so one instance serves every plan in the process
    (lazy: building it needs an active JVM gateway, which doesn't exist at
    import time)."""
    global _LUT_LIT
    if _LUT_LIT is None:
        _LUT_LIT = F.lit(_LUT)
    return _LUT_LIT


def xyz_cols(lat_deg: Column, lng_deg: Column) -> tuple[Column, Column, Column]:
    lat = F.radians(lat_deg)
    lng = F.radians(lng_deg)
    cos_lat = F.cos(lat)
    return cos_lat * F.cos(lng), cos_lat * F.sin(lng), F.sin(lat)


def face_col(x: Column, y: Column, z: Column) -> Column:
    """Largest |component| with the reference's exact tie behavior
    (S2Projections.java:847-856)."""
    ax, ay, az = F.abs(x), F.abs(y), F.abs(z)
    return (
        F.when((ax > ay) & (ax > az), F.when(x < 0, 3).otherwise(0))
        .when(~(ax > ay) & (ay > az), F.when(y < 0, 4).otherwise(1))
        .otherwise(F.when(z < 0, 5).otherwise(2))
    ).cast("int")


def uv_cols(face: Column, x: Column, y: Column, z: Column) -> tuple[Column, Column]:
    u = (
        F.when(face == 0, y / x)
        .when(face == 1, -x / y)
        .when(face == 2, -x / z)
        .when(face == 3, z / x)
        .when(face == 4, z / y)
        .otherwise(-y / z)
    )
    v = (
        F.when(face == 0, z / x)
        .when(face == 1, z / y)
        .when(face == 2, -y / z)
        .when(face == 3, y / x)
        .when(face == 4, -x / y)
        .otherwise(-x / z)
    )
    return u, v


def st_col(u: Column) -> Column:
    return F.when(u >= 0, 0.5 * F.sqrt(1.0 + 3.0 * u)).otherwise(
        1.0 - 0.5 * F.sqrt(1.0 - 3.0 * u)
    )


def ij_col(s: Column) -> Column:
    """Java Math.round == floor(x+0.5), clamped to the leaf range."""
    raw = F.floor((F.lit(float(MAX_SIZE)) * s - 0.5) + 0.5).cast("long")
    return F.greatest(F.lit(0).cast("long"), F.least(F.lit(MAX_SIZE - 1).cast("long"), raw))


def cell_id_from_face_ij_cols(face: Column, i: Column, j: Column) -> Column:
    """fromFaceIJ (S2CellId.java:1206-1240) as an ``aggregate`` fold over
    the 8 lookup steps.

    The naive chained form (step k's ``bits`` substituted into step k-1
    TWICE, once via ``idx`` and once via the next ``bits``) duplicates the
    upstream tree ~2^8 times — a plan Catalyst needs ~15 s just to
    analyze. The fold keeps ONE copy of the lambda in the plan and carries
    ``i``/``j`` in the accumulator so caller expressions are evaluated
    once per row, not once per step.

    Engine-choice crossover (measured, single pinned core, 2M rows): this
    fold runs ~155k rows/s (higher-order-function interpretation is not
    whole-stage-codegen'd) vs ~1.3M rows/s for the Arrow pandas_udf path
    (udfs.cell_id_from_face_ij; raw numpy kernel 4.66M before Arrow
    transfer). The fold wins below ~1M rows per job (zero Python-worker
    startup, pure-JVM plan); for bulk encodes — the 100-TB regime — the
    Arrow path is ~8x faster per core and is what tile_points/
    scaling_run use. Bit-identical outputs either way (tested)."""
    lut = _lut_lit()

    def step(acc, k):
        shift = (k * 4).cast("int")
        idx = (
            acc["bits"]
            + F.shiftleft(
                F.call_function("shiftrightunsigned", acc["i"], shift).bitwiseAND(
                    F.lit(15)
                ),
                6,
            )
            + F.shiftleft(
                F.call_function("shiftrightunsigned", acc["j"], shift).bitwiseAND(
                    F.lit(15)
                ),
                2,
            )
        )
        val = F.element_at(lut, (idx + 1).cast("int")).cast("long")
        chunk = F.shiftrightunsigned(val, 2)
        # only 4 meaningful bits at the top step (30 = 7*4 + 2 levels)
        chunk = F.when(k == 7, chunk.bitwiseAND(F.lit(15))).otherwise(chunk)
        new_pos = acc["pos"].bitwiseOR(
            F.call_function("shiftleft", chunk, (k * 8).cast("int"))
        )
        return F.struct(
            val.bitwiseAND(F.lit(3)).alias("bits"),
            new_pos.alias("pos"),
            acc["i"].alias("i"),
            acc["j"].alias("j"),
        )

    init = F.struct(
        face.bitwiseAND(F.lit(1)).cast("long").alias("bits"),
        F.lit(0).cast("long").alias("pos"),
        i.cast("long").alias("i"),
        j.cast("long").alias("j"),
    )
    folded = F.aggregate(F.sequence(F.lit(7), F.lit(0), F.lit(-1)), init, step)
    return (
        F.shiftleft(face.cast("long"), POS_BITS)
        + F.shiftleft(folded["pos"], 1)
        + F.lit(1).cast("long")
    )


def cell_id_col(lat_deg, lng_deg) -> Column:
    """Leaf cell id (raw-bits int64) from lat/lng degree columns — one
    codegen pipeline, no Python boundary."""
    lat_deg = F.col(lat_deg) if isinstance(lat_deg, str) else lat_deg
    lng_deg = F.col(lng_deg) if isinstance(lng_deg, str) else lng_deg
    x, y, z = xyz_cols(lat_deg, lng_deg)
    face = face_col(x, y, z)
    u, v = uv_cols(face, x, y, z)
    i = ij_col(st_col(u))
    j = ij_col(st_col(v))
    return cell_id_from_face_ij_cols(face, i, j)


def with_cell_id(
    df, lat_col: str, lng_col: str, out: str = "cell_id", level: int = 30
):
    """DataFrame transformer: adds ``out`` = S2 cell id of (lat,lng) —
    all JVM-side.

    Staged projections materialize xyz/face/uv/ij so subtrees are column
    references, and the 8-step Hilbert loop runs as an ``aggregate``
    higher-order function whose lambda binds i/j/face ONCE — a single
    monolithic Column expression duplicates the upstream tree ~2^8 times
    (measured 10x slower than the Arrow kernel; this form beats it).
    """
    lat = F.col(lat_col)
    lng = F.col(lng_col)
    x, y, z = xyz_cols(lat, lng)
    s = df.withColumns({"_x": x, "_y": y, "_z": z})
    s = s.withColumn("_face", face_col(F.col("_x"), F.col("_y"), F.col("_z")))
    u, v = uv_cols(F.col("_face"), F.col("_x"), F.col("_y"), F.col("_z"))
    s = s.withColumns({"_u": u, "_v": v})
    s = s.withColumns(
        {"_i": ij_col(st_col(F.col("_u"))), "_j": ij_col(st_col(F.col("_v")))}
    )

    s = s.withColumn(
        out,
        cell_id_from_face_ij_cols(F.col("_face"), F.col("_i"), F.col("_j")),
    )
    if level < 30:
        from . import columns as cc

        s = s.withColumn(out, cc.parent(out, level))
    return s.drop("_x", "_y", "_z", "_face", "_u", "_v", "_i", "_j")
