"""Scalar-quantized MIPS top-k (similarity.quantized_topk): integer
exactness vs a numpy oracle and the per-query rank contract."""

import numpy as np

from s2_geometry_library_java_spark.operators import similarity

DIM = 16
SCALE = 1 << 20


def _vectors(n, seed=7):
    rng = np.random.RandomState(seed)
    # clustered: 4 archetypes + small noise
    arch = rng.randn(4, DIM)
    X = arch[np.arange(n) % 4] + 0.05 * rng.randn(n, DIM)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    return X.astype(np.float64)


def _df(spark, X):
    rows = [(i, [float(v) for v in X[i]]) for i in range(len(X))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_quantized_scores_match_numpy(spark):
    X = _vectors(30)
    df = _df(spark, X)
    out = similarity.quantized_topk(
        df, df.where("vec_id < 3"), "vec_id", "embedding", k=4
    ).collect()
    Q = np.round(X * SCALE).astype(np.int64)
    for r in out:
        expect = int(Q[r["query_id"]] @ Q[r["neighbor_id"]])
        assert r["score_q"] == expect
    # every query got exactly k ranked rows 1..k
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3, 4] for v in by_q.values())
