"""Loop measures of the sphere kernel against the reference's
S2ShapeMeasures consistency relations."""

import numpy as np

from s2_geometry_library_java_spark.kernel import cellid as ci
from s2_geometry_library_java_spark.kernel import sphere


def _xyz(lat, lng):
    x, y, z = ci.latlng_to_xyz(
        np.radians(np.atleast_1d(np.float64(lat))),
        np.radians(np.atleast_1d(np.float64(lng))),
    )
    return np.stack([x, y, z], axis=1)


def _pts(text):
    out = []
    for tok in text.split(","):
        la, ln = tok.strip().split(":")
        out.append(_xyz(float(la), float(ln))[0])
    return np.array(out)


SHELL = "0:0, 0:10, 10:10, 10:0"            # CCW shell


def test_polygon_area_gauss_bonnet_consistency():
    """area(loop) ~ 2*pi - curvature(loop) (Gauss-Bonnet), the
    reference's own consistency relation between the two methods."""
    v = _pts(SHELL)
    assert abs(
        sphere.raw_signed_loop_area(v) - (2 * np.pi - sphere.loop_curvature(v))
    ) < 1e-9
