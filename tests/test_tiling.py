"""tiling.raster_vector_join: web-mercator XYZ keys against the slippy-map
formula and S2 tile keys against the kernel encoder."""

import math

import numpy as np
import pytest

from s2_geometry_library_java_spark.kernel import cellid as s2
from s2_geometry_library_java_spark.localdf import local_df
from s2_geometry_library_java_spark.operators import tiling

MERCATOR_LAT = math.degrees(math.atan(math.sinh(math.pi)))  # 85.0511...°


def _slippy(lat, lng, zoom):
    """OSM slippy-map tile (x, y), lat clamped to the mercator domain, both
    indices clamped to [0, n-1] (lng = 180 wraps into the last column, and
    asinh at the clamped lat may round past either edge). A NULL lat takes
    the north clamp, the top row: the clamp's greatest/least skip NULLs, in
    Spark as in the DuckDB oracle of the mercator_tiles gate."""
    n = 1 << zoom
    x = min(int(np.floor((lng + 180.0) / 360.0 * n)), n - 1)
    if lat is None:
        lat = MERCATOR_LAT
    lat_r = np.radians(min(max(lat, -MERCATOR_LAT), MERCATOR_LAT))
    y = int(np.floor((1.0 - np.arcsinh(np.tan(lat_r)) / np.pi) / 2.0 * n))
    return x, min(max(y, 0), n - 1)


@pytest.mark.parametrize("zoom", [0, 3, 12])
def test_raster_vector_join_keys(spark, zoom):
    rng = np.random.default_rng(zoom)
    pts = list(zip(rng.uniform(-80, 80, 40).tolist(), rng.uniform(-179, 179, 40).tolist()))
    pts += [
        (0.0, 180.0),  # the dateline edge wraps into the last column
        (10.0, -180.0),
        (MERCATOR_LAT, 12.0),
        (-MERCATOR_LAT, 12.0),
        (89.9, 45.0),  # beyond the clamp: the pole rows
        (-89.9, -45.0),
        (None, 12.0),
    ]
    rows = [(k, la, ln) for k, (la, ln) in enumerate(pts)]
    df = local_df(spark, rows, "id long, lat double, lng double")
    out = {
        r["id"]: r
        for r in tiling.raster_vector_join(df, zoom, s2_level=9).collect()
    }
    assert len(out) == len(rows)
    for k, la, ln in rows:
        r = out[k]
        assert r["zoom"] == zoom
        assert (r["tile_x"], r["tile_y"]) == _slippy(la, ln, zoom), (la, ln)
        if la is None:
            assert r["leaf"] is None and r["tile"] is None
            continue
        leaf = s2.latlng_degrees_to_cell_id(la, ln)
        assert r["leaf"] == int(s2.to_signed(leaf)[0])
        assert r["tile"] == int(s2.to_signed(s2.parent(leaf, 9))[0])
