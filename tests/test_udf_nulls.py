"""The Arrow cell-id encoders under NULL input: a row is NULL iff any of
its inputs is NULL, and every other row equals the numpy kernel."""

import numpy as np
from hypothesis import given, settings, strategies as st

from s2_geometry_library_java_spark.functions import udfs
from s2_geometry_library_java_spark.kernel import cellid as s2


def _maybe(strategy):
    return st.one_of(st.none(), strategy)


ROW = st.tuples(
    _maybe(st.floats(min_value=-90.0, max_value=90.0, allow_nan=False)),
    _maybe(st.floats(min_value=-180.0, max_value=180.0, allow_nan=False)),
    _maybe(st.integers(min_value=0, max_value=30)),
    _maybe(st.integers(min_value=0, max_value=5)),
    _maybe(st.integers(min_value=0, max_value=(1 << 30) - 1)),
    _maybe(st.integers(min_value=0, max_value=(1 << 30) - 1)),
)


@settings(max_examples=25, deadline=None)
@given(st.lists(ROW, min_size=1, max_size=40))
def test_encoders_null_iff_any_input_null(spark, rows):
    df = spark.createDataFrame(
        [(n, *r) for n, r in enumerate(rows)],
        "n int, lat double, lng double, level int, face int, i long, j long",
    ).coalesce(1)  # one partition: every row in one Arrow batch
    got = {
        r["n"]: r
        for r in df.select(
            "n",
            udfs.cell_id_from_latlng_deg("lat", "lng", "level").alias("cell"),
            udfs.cell_id_from_face_ij("face", "i", "j").alias("fij"),
            udfs.face_from_latlng_deg("lat", "lng").alias("face"),
            udfs.latlng_deg_to_xyz("lat", "lng").alias("p"),
            udfs.latlng_deg_to_xyz_leaf("lat", "lng").alias("pl"),
        ).collect()
    }
    assert sorted(got) == list(range(len(rows)))
    for n, (lat, lng, level, face, i, j) in enumerate(rows):
        g = got[n]
        if face is None or i is None or j is None:
            assert g["fij"] is None
        else:
            want = s2.to_signed(s2.from_face_ij(np.array([face]), np.array([i]), np.array([j])))
            assert g["fij"] == int(want[0])
        if lat is None or lng is None or level is None:
            assert g["cell"] is None
        else:
            want = s2.to_signed(
                s2.latlng_degrees_to_cell_id(np.array([lat]), np.array([lng]), np.array([level]))
            )
            assert g["cell"] == int(want[0])
        if lat is None or lng is None:
            assert g["face"] is None
            assert tuple(g["p"]) == (None,) * 3
            assert tuple(g["pl"]) == (None,) * 4
            continue
        x, y, z = s2.latlng_to_xyz(np.radians(np.array([lat])), np.radians(np.array([lng])))
        assert g["face"] == int(s2.xyz_to_face(x, y, z)[0])
        assert tuple(g["p"]) == (x[0], y[0], z[0])
        leaf = int(s2.to_signed(s2.xyz_to_cell_id(x, y, z))[0])
        assert tuple(g["pl"]) == (x[0], y[0], z[0], leaf)
