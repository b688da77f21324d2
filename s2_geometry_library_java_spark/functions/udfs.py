"""Arrow-batched pandas UDFs wrapping the numpy kernels.

These are the ONLY JVM<->Python boundaries in the engine. Everything inside
is whole-array numpy (no per-row Python), per the input_hint contract.
Relational algebra around them stays in Catalyst/WholeStageCodegen.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

_FACEIJ = StructType(
    [StructField("face", IntegerType()), StructField("i", LongType()), StructField("j", LongType())]
)
_XYZ = StructType(
    [StructField("x", DoubleType()), StructField("y", DoubleType()), StructField("z", DoubleType())]
)
_XYZ_LEAF = StructType(_XYZ.fields + [StructField("leaf", LongType())])

from ..kernel import cellid as s2


def _inputs(*cols: pd.Series):
    """(null, cols): the rows where any input is NULL (None for a batch
    without one) and the inputs with NULL read as 0.

    Arrow hands NULL to pandas as NaN, and an integer column holding one
    arrives as float64, so integer columns skip the scan; NaN input counts
    as NULL. Only a batch that holds a NULL is copied."""
    null = None
    for c in cols:
        if c.dtype.kind not in "iu":
            m = np.isnan(c.to_numpy(np.float64))
            if m.any():
                null = m if null is None else null | m
    if null is not None:
        cols = [c.fillna(0) for c in cols]
    return null, cols


def _masked(values: np.ndarray, null):
    """``values``, NULL on the ``null`` rows."""
    if null is None:
        return values
    if values.dtype.kind == "f":
        return np.where(null, np.nan, values)  # NaN leaves the UDF as NULL
    return pd.arrays.IntegerArray(values, null)


def _xyz(lat: pd.Series, lng: pd.Series):
    return s2.latlng_to_xyz(
        np.radians(lat.to_numpy(np.float64)), np.radians(lng.to_numpy(np.float64))
    )


@pandas_udf(LongType())
def _cell_id_from_latlng_deg(lat: pd.Series, lng: pd.Series, level: pd.Series) -> pd.Series:
    null, (lat, lng, level) = _inputs(lat, lng, level)
    ids = s2.latlng_degrees_to_cell_id(
        lat.to_numpy(np.float64), lng.to_numpy(np.float64), level.to_numpy(np.int64)
    )
    return pd.Series(_masked(s2.to_signed(ids), null))


def cell_id_from_latlng_deg(lat, lng, level) -> Column:
    """Leaf-or-level cell id (raw-bits int64) from lat/lng degrees columns;
    NULL where any input is NULL."""
    lvl = F.lit(level) if isinstance(level, int) else level
    return _cell_id_from_latlng_deg(lat, lng, lvl)


@pandas_udf(LongType())
def _cell_id_from_face_ij(face: pd.Series, i: pd.Series, j: pd.Series) -> pd.Series:
    null, (face, i, j) = _inputs(face, i, j)
    ids = s2.from_face_ij(
        face.to_numpy(np.int64), i.to_numpy(np.int64), j.to_numpy(np.int64)
    )
    return pd.Series(_masked(s2.to_signed(ids), null))


def cell_id_from_face_ij(face, i, j) -> Column:
    """Leaf cell id (raw-bits int64) from (face, i, j); NULL where any
    input is NULL."""
    return _cell_id_from_face_ij(face, i, j)


@pandas_udf(_FACEIJ)
def _cell_id_to_face_ij(cid: pd.Series) -> pd.DataFrame:
    f, i, j, _ = s2.to_face_ij_orientation(s2.from_signed(cid.to_numpy(np.int64)))
    return pd.DataFrame({"face": f.astype(np.int32), "i": i, "j": j})


def cell_id_to_face_ij(cid) -> Column:
    return _cell_id_to_face_ij(cid)


@pandas_udf(IntegerType())
def _face_from_latlng_deg(lat: pd.Series, lng: pd.Series) -> pd.Series:
    null, (lat, lng) = _inputs(lat, lng)
    return pd.Series(_masked(s2.xyz_to_face(*_xyz(lat, lng)).astype(np.int32), null))


def face_from_latlng_deg(lat, lng) -> Column:
    return _face_from_latlng_deg(lat, lng)


@pandas_udf(_XYZ)
def _latlng_deg_to_xyz(lat: pd.Series, lng: pd.Series) -> pd.DataFrame:
    null, (lat, lng) = _inputs(lat, lng)
    x, y, z = _xyz(lat, lng)
    return pd.DataFrame({"x": _masked(x, null), "y": _masked(y, null), "z": _masked(z, null)})


def latlng_deg_to_xyz(lat, lng) -> Column:
    """struct<x,y,z>: the unit point; every field is NULL where lat or lng
    is NULL."""
    return _latlng_deg_to_xyz(lat, lng)


@pandas_udf(_XYZ_LEAF)
def _latlng_deg_to_xyz_leaf(lat: pd.Series, lng: pd.Series) -> pd.DataFrame:
    null, (lat, lng) = _inputs(lat, lng)
    x, y, z = _xyz(lat, lng)
    leaf = s2.to_signed(s2.xyz_to_cell_id(x, y, z))
    return pd.DataFrame(
        {k: _masked(v, null) for k, v in (("x", x), ("y", y), ("z", z), ("leaf", leaf))}
    )


def latlng_deg_to_xyz_leaf(lat, lng) -> Column:
    """struct<x,y,z,leaf>: the unit point and its leaf cell id from one
    conversion — bit-identical to latlng_deg_to_xyz and
    cell_id_from_latlng_deg(..., 30), which both start from the same xyz.
    Every field is NULL where lat or lng is NULL."""
    return _latlng_deg_to_xyz_leaf(lat, lng)


@pandas_udf(ArrayType(LongType()))
def _all_neighbors(cid: pd.Series) -> pd.Series:
    nb = s2.get_all_neighbors_same_level(s2.from_signed(cid.to_numpy(np.int64)))
    signed = nb.view(np.int64)
    return pd.Series(list(signed))


def all_neighbors(cid) -> Column:
    """The 8 same-level edge+vertex neighbors as array<long> (may contain
    duplicates at cube corners, like the reference)."""
    return _all_neighbors(cid)
