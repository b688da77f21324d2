"""operators/ringsearch: the cell-ring search shared by knn_cell_join and
closest/furthest edges — tiny-index routing, a lazy covering seed, and
per-action Spark job counts pinned on small fixtures."""

import io
import re
from contextlib import redirect_stdout

import numpy as np
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.operators import closestedge, knn
from s2_geometry_library_java_spark.operators import shapes as shape_ops

#: Spark jobs of one action on the fixtures below at the commit before the
#: shared ring search (Spark 4.1.2, local[8], 8 shuffle partitions, AQE on).
#: A change that adds jobs fails here rather than in a plan review.
KNN_BUILD_JOBS = 2
KNN_ACTION_JOBS = 14
EDGES_BUILD_JOBS = 3
EDGES_ACTION_JOBS = 25


def _jobs(spark, group, fn):
    """(fn(), number of Spark jobs fn submitted) under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


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


def test_covering_seed_build_is_lazy(spark):
    """Building closest_edges(covering_seed=True) runs only the edge count:
    the far/near split, the covering-pruned pass and the remnant all wait
    for the caller's action."""
    index, queries = _edge_fixture(spark)
    index.persist().count()
    _, n_count = _jobs(spark, "rs-count", index.count)
    df, n_build = _jobs(
        spark, "rs-cover-build",
        lambda: closestedge.closest_edges(
            index, queries, k=2, level=6, covering_seed=True
        ),
    )
    assert n_build == n_count
    plain = closestedge.closest_edges(index, queries, k=2, level=6)
    assert sorted(df.collect()) == sorted(plain.collect())


def test_ring_search_job_counts(spark):
    """Job counts of one knn_cell_join and one closest_edges call (plan
    build and action) stay at or below the pinned counts."""
    index, queries = _knn_fixture(spark)
    df, n_build = _jobs(spark, "rs-knn-build", lambda: knn.knn_cell_join(index, queries, k=5))
    rows, n_action = _jobs(spark, "rs-knn-action", df.collect)
    assert len(rows) == 5 * 64
    assert n_build <= KNN_BUILD_JOBS
    assert n_action <= KNN_ACTION_JOBS

    index, queries = _edge_fixture(spark)
    df, n_build = _jobs(
        spark, "rs-edge-build",
        lambda: closestedge.closest_edges(index, queries, k=2, level=6),
    )
    rows, n_action = _jobs(spark, "rs-edge-action", df.collect)
    assert len(rows) == 2 * 64
    assert n_build <= EDGES_BUILD_JOBS
    assert n_action <= EDGES_ACTION_JOBS
