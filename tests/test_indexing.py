"""S2IndexingHelper term generation (operators/indexing.py): retrieval
equivalence across the space and complexity modes."""

from s2_geometry_library_java_spark.operators import indexing
from s2_geometry_library_java_spark.operators import shapes as shp

LV = {"min_level": 4, "max_level": 12, "level_mod": 2}


def _quad(clat, clng, h):
    pts = [(clat - h, clng - h), (clat - h, clng + h),
           (clat + h, clng + h), (clat + h, clng - h)]
    return ", ".join(f"{float(la)!r}:{float(ln)!r}" for la, ln in pts)


def _pairs(df):
    return sorted((r["doc_id"], r["query_id"]) for r in df.collect())


def test_space_and_complexity_modes_retrieve_identically(spark):
    """RULES 1-3: 'optimize for space' and 'optimize for complexity'
    trade index size against query complexity but MUST return the same
    matches."""
    docs = spark.createDataFrame(
        [("d0", _quad(20, 20, 10.0)), ("d1", _quad(19, 19, 1.0)),
         ("d2", _quad(-40, -120, 3.0))],
        "shape_id string, text string",
    )
    qs = spark.createDataFrame(
        [("q0", _quad(22.5, 22.5, 0.5)), ("q1", _quad(20, 20, 20.0)),
         ("q2", _quad(60, 100, 2.0))],
        "shape_id string, text string",
    )
    dcov = shp.coverings_df(docs, max_cells=8, **LV)
    qcov = shp.coverings_df(qs, max_cells=8, **LV)
    out = {}
    for space in (False, True):
        dt = indexing.index_terms(dcov, optimize_for_space=space, **LV)
        qt = indexing.query_terms(
            qcov, optimize_for_space=space, query_id="shape_id", **LV
        )
        out[space] = _pairs(indexing.term_matches(dt, qt))
    assert out[False] == out[True]
    assert ("d0", "q0") in out[False]      # query below doc cells
    assert ("d0", "q1") in out[False]      # query above doc cells
    assert ("d2", "q2") not in out[False]  # disjoint
    # space mode indexes strictly fewer (or equal) terms
    n_space = indexing.index_terms(dcov, optimize_for_space=True, **LV).count()
    n_cplx = indexing.index_terms(dcov, optimize_for_space=False, **LV).count()
    assert n_space <= n_cplx
