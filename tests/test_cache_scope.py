"""plans/cache: every cached intermediate is released when its scope ends.

Each operator that holds a cached intermediate runs twice, each call (plan
build and action) inside its own ``cache.scope()``. After each scope the
session's cached RDDs and CacheManager are back to their state before it,
and the second call runs as many Spark jobs as the first (up to AQE's
spread): it cannot read blocks the first call left behind.
"""

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.operators import (
    booleanops,
    closestedge,
    dedup,
    knn,
    packing,
    ringsearch,
    similarity,
)
from s2_geometry_library_java_spark.plans import cache
from s2_geometry_library_java_spark.sources import tables
from tests.conftest import SF_DIR
from tests.test_ringsearch import _edge_fixture, _knn_fixture


def _quads(spark, prefix, centers, h):
    rows = [
        (f"{prefix}{i}",
         f"{a - h}:{b - h}, {a - h}:{b + h}, {a + h}:{b + h}, {a + h}:{b - h}")
        for i, (a, b) in enumerate(centers)
    ]
    return spark.createDataFrame(rows, "shape_id string, text string")


def _docs(spark):
    return tables.load_table(spark, SF_DIR, "documents")


def _doc_lengths(spark):
    return _docs(spark).select("doc_id", F.length("text").alias("re_tokens"))


def _emb(spark):
    return tables.load_table(spark, SF_DIR, "embeddings")


def _ring(op, fixture, **kw):
    def make(spark):
        index, queries = fixture(spark)
        return lambda: op(index, queries, **kw).collect()
    return make


def _table(op, load, *args, **kw):
    def make(spark):
        df = load(spark)
        return lambda: op(df, *args, **kw).collect()
    return make


def _boolean_pairs(spark):
    a = _quads(spark, "a", [(0.0, 0.0), (10.0, 10.0), (-20.0, 30.0)], 2.0)
    b = _quads(spark, "b", [(1.0, 1.0), (11.5, 8.5), (40.0, 40.0)], 2.0)
    return lambda: booleanops.candidate_pairs(a, b).collect()


#: name -> make(spark): builds the inputs once and returns the call, which
#: builds the operator's plan and runs its action; the kNN and edge calls
#: take the ring rounds (LOCAL_PAIRS_MAX is 0)
CALLS = {
    "knn_cell_join": _ring(knn.knn_cell_join, _knn_fixture, k=5),
    "closest_edges": _ring(closestedge.closest_edges, _edge_fixture, k=2, level=6),
    "furthest_edges": _ring(closestedge.furthest_edges, _edge_fixture, k=2, level=6),
    "furthest_edges_seed_route": _ring(
        closestedge.furthest_edges, _edge_fixture, k=2, level=6),
    "candidate_pairs": _boolean_pairs,
    "lsh_banded_pairs": _table(similarity.lsh_banded_pairs, _emb, "vec_id",
                               "embedding", min_cosine=0.5),
    "ivf_train_centroids": _table(similarity.ivf_train_centroids, _emb, "vec_id",
                                  "embedding", n_centroids=8),
    "lsh_candidate_pairs": _table(dedup.lsh_candidate_pairs, _docs, "doc_id", "text"),
    "repeated_window_spans": _table(dedup.repeated_window_spans, _docs, "doc_id", "text"),
    # these three checkpoint instead of holding
    "near_dup_clusters": _table(dedup.near_dup_clusters, _docs, "doc_id", "text"),
    "near_dup_clusters_star_route": _table(
        dedup.near_dup_clusters, _docs, "doc_id", "text"),
    "with_chunk_assignments": _table(packing.with_chunk_assignments, _doc_lengths, 512),
}

#: jobs by which two identical calls may differ with nothing cached between
#: them, from the order in which AQE's query stages finish: at most 1 here
#: (furthest_edges ran 27 then 26), and 57-61 on the covering-seed route.
#: A second call that read the first call's blocks ran 10 for the edge
#: routes (26 or 60 first) and 6 for kNN (15 first).
JOB_SPREAD = 1
SEED_JOB_SPREAD = 4

#: name -> (module, constant, value) that routes the call to the route that
#: holds: the covering seed on the 302-row edge index, the distributed
#: covering join for three shapes a side, and the star-contraction rounds
#: of connected_components
ROUTES = {
    "furthest_edges_seed_route": (closestedge, "AUTO_COVERING_SEED_EDGES", 1),
    "candidate_pairs": (booleanops, "SMALL_SHAPES_THRESHOLD", 0),
    "near_dup_clusters_star_route": (dedup, "SMALL_GRAPH_EDGES", 0),
}


@pytest.mark.parametrize("name", sorted(CALLS))
def test_scope_releases_what_it_held(spark, count_jobs, monkeypatch, name):
    monkeypatch.setattr(ringsearch, "LOCAL_PAIRS_MAX", 0)
    if name in ROUTES:
        monkeypatch.setattr(*ROUTES[name])
    held = []
    real_hold = cache.hold

    def hold(df):
        held.append(real_hold(df))
        return held[-1]

    monkeypatch.setattr(cache, "hold", hold)
    call = CALLS[name](spark)
    jsc = spark.sparkContext._jsc.sc()
    manager = spark._jsparkSession.sharedState().cacheManager()

    def state():
        rdds = sorted(i.id() for i in jsc.getRDDStorageInfo())
        return rdds, manager.isEmpty()

    jobs = []
    for run in range(2):
        before = state()
        with cache.scope():
            _, n = count_jobs(f"cache-scope-{name}-{run}", call)
        jobs.append(n)
        assert state() == before
        assert all(df.storageLevel == StorageLevel.NONE for df in held)
    spread = SEED_JOB_SPREAD if name == "furthest_edges_seed_route" else JOB_SPREAD
    assert abs(jobs[1] - jobs[0]) <= spread, jobs
