"""operators/ringsearch: the search shared by knn_cell_join and
closest/furthest edges — tiny-index routing, a lazy covering seed,
per-action Spark job counts pinned on small fixtures for the ring rounds and
the partition-local pass, and the local pass equal to the ring rounds on
tie-heavy fixtures."""

import io
import re
from contextlib import redirect_stdout

import numpy as np
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.operators import closestedge, knn, ringsearch
from s2_geometry_library_java_spark.operators import shapes as shape_ops
from s2_geometry_library_java_spark.plans import cache

#: Spark jobs of one ring-round action on the fixtures below at the commit
#: before the shared ring search (Spark 4.1.2, local[8], 8 shuffle
#: partitions, AQE on). A change that adds jobs fails here rather than in a
#: plan review.
KNN_BUILD_JOBS = 2
KNN_ACTION_JOBS = 14
EDGES_BUILD_JOBS = 3
EDGES_ACTION_JOBS = 25
#: the same calls on the partition-local pass (build includes the bounded
#: query collect), measured when it was added
LOCAL_KNN_JOBS = 5
LOCAL_EDGES_JOBS = 5


def _plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _knn_fixture(spark):
    rng = np.random.default_rng(7)
    lat = np.clip(rng.normal(40, 3, 3000), -89, 89)
    lng = rng.normal(-100, 4, 3000)
    index = spark.createDataFrame(
        [(i, float(lat[i]), float(lng[i])) for i in range(3000)],
        "id long, lat double, lng double",
    )
    qlat = np.clip(rng.normal(40, 3, 64), -89, 89)
    qlng = rng.normal(-100, 4, 64)
    queries = spark.createDataFrame(
        [(i, float(qlat[i]), float(qlng[i])) for i in range(64)],
        "query_id long, lat double, lng double",
    )
    return index, queries


def _edge_fixture(spark):
    """8 quads indexed at min_level 6: 302 index rows, above
    SMALL_INDEX_BRUTE_EDGES, so the ring rounds run; 64 global queries."""
    rng = np.random.default_rng(7)
    texts = []
    for s in range(8):
        clat = float(rng.uniform(-50, 50))
        clng = float(rng.uniform(-160, 160))
        h = float(rng.uniform(3, 7))
        pts = [(clat - h, clng - h), (clat - h, clng + h),
               (clat + h, clng + h), (clat + h, clng - h)]
        texts.append((f"s{s}", ", ".join(f"{a!r}:{b!r}" for a, b in pts)))
    shapes = spark.createDataFrame(texts, "shape_id string, text string")
    index = shape_ops.shape_index_df(shapes, min_level=6)
    v = rng.normal(size=(64, 3))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    lat = np.degrees(np.arcsin(v[:, 2]))
    lng = np.degrees(np.arctan2(v[:, 1], v[:, 0]))
    queries = spark.createDataFrame(
        [(i, float(lat[i]), float(lng[i])) for i in range(64)],
        "query_id long, lat double, lng double",
    )
    return index, queries


def test_tiny_knn_index_broadcasts_the_index(spark):
    """A 20-point index leaves no ring level (choose_level -> 0): the exact
    pass must broadcast the index, never the 5,000-row query table, and
    still equal the brute-force answer."""
    rng = np.random.default_rng(3)
    index = spark.createDataFrame(
        [(i, float(rng.uniform(-60, 60)), float(rng.uniform(-180, 180)))
         for i in range(20)],
        "id long, lat double, lng double",
    )
    queries = spark.range(5000).select(
        F.col("id").alias("query_id"),
        ((F.col("id") * 0.0173) % 170.0 - 85.0).alias("lat"),
        ((F.col("id") * 0.0311) % 360.0 - 180.0).alias("lng"),
    )
    assert knn.choose_level(20, 3) == 0
    got = knn.knn_cell_join(index, queries, k=3)
    rows = sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in got.collect())

    plan = _plan_text(got)
    inputs = re.findall(
        r"^\(\d+\) BroadcastExchange\s*\nInput \[\d+\]: \[([^\]]*)\]", plan, re.M
    )
    assert inputs, plan
    for cols in inputs:
        assert "ix#" in cols and "qx#" not in cols, cols

    want = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in knn.knn_bruteforce(index, queries, k=3).collect()
    )
    assert len(rows) == 3 * 5000
    assert rows == want


def test_covering_seed_build_is_lazy(spark, count_jobs, monkeypatch):
    """Building furthest_edges on the covering-seed route runs only the
    edge count: the far/near split, the covering-pruned pass and the
    remnant all wait for the caller's action."""
    index, queries = _edge_fixture(spark)
    monkeypatch.setattr(ringsearch, "LOCAL_PAIRS_MAX", 0)
    with cache.scope():
        index = cache.hold(index)
        index.count()
        _, n_count = count_jobs("rs-count", index.count)
        monkeypatch.setattr(closestedge, "AUTO_COVERING_SEED_EDGES", 1)
        df, n_build = count_jobs(
            "rs-cover-build",
            lambda: closestedge.furthest_edges(index, queries, k=2, level=6),
        )
        assert n_build == n_count
        monkeypatch.setattr(closestedge, "AUTO_COVERING_SEED_EDGES", 50_000)
        plain = closestedge.furthest_edges(index, queries, k=2, level=6)
        assert sorted(df.collect()) == sorted(plain.collect())


def test_ring_search_job_counts(spark, count_jobs, monkeypatch):
    """Job counts of one knn_cell_join and one closest_edges call (plan
    build and action) on the ring rounds stay at or below the pinned
    counts."""
    monkeypatch.setattr(ringsearch, "LOCAL_PAIRS_MAX", 0)
    index, queries = _knn_fixture(spark)
    with cache.scope():
        df, n_build = count_jobs(
            "rs-knn-build", lambda: knn.knn_cell_join(index, queries, k=5)
        )
        rows, n_action = count_jobs("rs-knn-action", df.collect)
    assert len(rows) == 5 * 64
    assert n_build <= KNN_BUILD_JOBS
    assert n_action <= KNN_ACTION_JOBS

    index, queries = _edge_fixture(spark)
    with cache.scope():
        df, n_build = count_jobs(
            "rs-edge-build",
            lambda: closestedge.closest_edges(index, queries, k=2, level=6),
        )
        rows, n_action = count_jobs("rs-edge-action", df.collect)
    assert len(rows) == 2 * 64
    assert n_build <= EDGES_BUILD_JOBS
    assert n_action <= EDGES_ACTION_JOBS


def test_local_pass_job_counts(spark, count_jobs):
    """The same calls under the pair budget take the partition-local pass:
    build + action stay at or below the pinned counts, and leave no cached
    RDD behind."""
    sc = spark.sparkContext
    cached = len(sc._jsc.sc().getRDDStorageInfo())
    index, queries = _knn_fixture(spark)
    rows, n_jobs = count_jobs(
        "rs-local-knn", lambda: knn.knn_cell_join(index, queries, k=5).collect()
    )
    assert len(rows) == 5 * 64
    assert n_jobs <= LOCAL_KNN_JOBS

    index, queries = _edge_fixture(spark)
    rows, n_jobs = count_jobs(
        "rs-local-edge",
        lambda: closestedge.closest_edges(index, queries, k=2, level=6).collect(),
    )
    assert len(rows) == 2 * 64
    assert n_jobs <= LOCAL_EDGES_JOBS
    assert len(sc._jsc.sc().getRDDStorageInfo()) == cached


def _rows(df, ids):
    return sorted(
        (r["query_id"], r["rank"], *(r[c] for c in ids), r["chord2"])
        for r in df.collect()
    )


def test_local_pass_equals_ring_rounds_on_ties(spark, monkeypatch):
    """On tie-heavy fixtures the partition-local pass returns exactly the
    ring rounds' rows, chord2 bits included: a grid symmetric about (0, 0)
    (equidistant points), grid points duplicated under fresh ids in a
    partition of their own holding fewer than k items, squares sharing
    vertices and edges, queries exactly on a vertex / grid point."""
    schema = "id long, lat double, lng double"
    g = [round(i * 0.01, 2) for i in range(-10, 11)]
    pts = [(a, b) for a in g for b in g]
    # one partition, ids falling in row order: a tie cut at the k-th place
    # must keep the smaller ids, not the first rows
    grid = spark.createDataFrame(
        [(len(pts) - i, *p) for i, p in enumerate(pts)], schema
    ).coalesce(1)
    dups = spark.createDataFrame(
        [(10_000 + i, *pts[j]) for i, j in enumerate((220, 221, 241, 0))], schema
    ).coalesce(1)
    points = grid.union(dups)
    queries = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 0.005, 0.0), (2, 0.0, 0.005), (3, -0.1, 0.1),
         (4, 0.2, 0.25), (5, 0.01, -0.02), (6, 0.005, 0.005)],
        "query_id long, lat double, lng double",
    )
    squares = [
        (f"sq{a}{b}", f"{a}.0:{b}.0, {a}.0:{b + 1}.0, {a + 1}.0:{b + 1}.0, {a + 1}.0:{b}.0")
        for a in (-1, 0) for b in (-1, 0)
    ]
    shapes = spark.createDataFrame(squares, "shape_id string, text string")
    edges = shape_ops.shape_index_df(shapes, min_level=6)
    # a partition of two rows repeating index rows
    edges = edges.union(edges.limit(2))
    equeries = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 0.0, 0.5), (2, 0.5, 0.5), (3, -0.5, -0.5),
         (4, 1.0, -1.0), (5, 3.0, 2.0)],
        "query_id long, lat double, lng double",
    )
    # the ring rounds must run on the edge fixture too
    monkeypatch.setattr(closestedge, "SMALL_INDEX_BRUTE_EDGES", 0)
    assert knn.choose_level(len(pts) + 4, 5) > 0

    def run():
        with cache.scope():
            return (
                _rows(knn.knn_cell_join(points, queries, k=5), ["neighbor_id"]),
                _rows(closestedge.closest_edges(edges, equeries, k=3, level=6),
                      ["shape_id", "edge_id"]),
                _rows(closestedge.furthest_edges(edges, equeries, k=2, level=6),
                      ["shape_id", "edge_id"]),
            )

    local = run()
    monkeypatch.setattr(ringsearch, "LOCAL_PAIRS_MAX", 0)
    ring = run()
    assert [len(r) for r in local] == [5 * 7, 3 * 6, 2 * 6]
    # the fixtures do tie: query 0 sits on a grid point that is also
    # indexed under a second id, with four equidistant neighbours, and on
    # the vertex shared by all four squares
    assert local[0][1][3] == 0.0 and local[0][2][3] == local[0][4][3]
    assert local[1][0][4] == local[1][1][4] == 0.0
    assert local == ring
