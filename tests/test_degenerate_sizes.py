"""Degenerate input sizes: every kNN, edge and point-in-polygon operator
returns no rows when either side is empty, and k rows per query capped by
the index size when the index has one row. Row counts and output columns
are checked; the result values are checked by each operator's own tests."""

import pytest

from s2_geometry_library_java_spark.kernel import region as rg
from s2_geometry_library_java_spark.operators import closestedge, knn, pip
from s2_geometry_library_java_spark.operators import shapes as shape_ops

K = 3
QUAD = "10.0:20.0, 10.0:24.0, 14.0:24.0, 14.0:20.0"
#: five points inside QUAD, used as kNN / edge queries and as PIP points
POINTS = [(i, 11.0 + 0.4 * i, 21.0 + 0.5 * i) for i in range(5)]


def _points(spark, rows, id_col):
    return spark.createDataFrame(rows, f"{id_col} long, lat double, lng double")


def _shapes(spark, n):
    return spark.createDataFrame([("quad", QUAD)][:n], "shape_id string, text string")


def _edge_index(spark, n):
    full = shape_ops.shape_index_df(_shapes(spark, 1), min_level=4)
    rows = full.orderBy("cell_id", "edge_id").take(n)
    return spark.createDataFrame(rows, full.schema)


def _knn(op):
    def run(spark, n_index, queries):
        index = _points(spark, [(7, 12.0, 22.0)][:n_index], "id")
        return op(index, queries, k=K)
    return run


def _edges(op):
    def run(spark, n_index, queries):
        return op(_edge_index(spark, n_index), queries, k=K, level=6)
    return run


def _pip_join(spark, n_index, queries):
    polygons = {"quad": rg.Polygon.from_text(QUAD)} if n_index else {}
    return pip.pip_join(spark, queries.withColumnRenamed("query_id", "id"), polygons)


def _pip_join_indexed(spark, n_index, queries):
    points = queries.withColumnRenamed("query_id", "id")
    return shape_ops.pip_join_indexed(spark, points, _shapes(spark, n_index))


#: name -> (run(spark, index rows, queries), output columns)
OPERATORS = {
    "knn_cell_join": (_knn(knn.knn_cell_join), ["query_id", "rank", "neighbor_id", "chord2"]),
    "knn_bruteforce": (_knn(knn.knn_bruteforce), ["query_id", "rank", "neighbor_id", "chord2"]),
    "closest_edges": (_edges(closestedge.closest_edges),
                      ["query_id", "rank", "shape_id", "edge_id", "chord2"]),
    "furthest_edges": (_edges(closestedge.furthest_edges),
                       ["query_id", "rank", "shape_id", "edge_id", "chord2"]),
    "pip_join": (_pip_join, ["point_id", "polygon_id"]),
    "pip_join_indexed": (_pip_join_indexed, ["point_id", "polygon_id"]),
}

#: name -> (index rows, query rows)
SIZES = {
    "empty_queries": (1, 0),
    "empty_index": (0, len(POINTS)),
    "one_row_index": (1, len(POINTS)),
}


@pytest.mark.parametrize("size", sorted(SIZES))
@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_degenerate_sizes(spark, name, size):
    run, columns = OPERATORS[name]
    n_index, n_queries = SIZES[size]
    out = run(spark, n_index, _points(spark, POINTS[:n_queries], "query_id"))
    assert out.columns == columns
    # k per query capped by the index size; every point lies in the one shape
    assert out.count() == n_queries * min(K, n_index)
