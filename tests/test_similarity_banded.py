"""Banded multi-table hyperplane LSH: recall on near-dup twins, bounded
bucket fanout, and the skew guard."""

import math

import numpy as np
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.operators import similarity


def _emb_df(spark, vecs, start_id=0):
    rows = [(int(start_id + i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, v array<double>")


def test_banded_lsh_twin_recall(spark):
    rng = np.random.default_rng(123455)
    base = rng.normal(0, 0.15, size=(200, 64))
    twins = base.copy()
    twins[:, 0] += 0.05
    df = _emb_df(spark, base).unionByName(_emb_df(spark, twins, start_id=1000000))
    pairs = {
        (r["a"], r["b"])
        for r in similarity.lsh_banded_pairs(
            df, "vec_id", "v", min_cosine=0.95
        ).collect()
    }
    # every twin pair has cosine ~0.999; banded LSH (4 independent tables)
    # must recover nearly all of them
    want = {(i, i + 1000000) for i in range(200)}
    found = len(want & pairs)
    assert found >= 0.9 * len(want), f"twin recall {found}/200"


def test_banded_lsh_skew_guard(spark, monkeypatch):
    """50 identical vectors land in one band per table; with MAX_BUCKET=10
    the guard drops those bands entirely instead of emitting 50*49/2 pairs
    per table."""
    v = list(np.linspace(0.1, 0.7, 64))
    df = _emb_df(spark, [v] * 50)
    # under the default bound they all pair up
    assert similarity.lsh_banded_pairs(df, "vec_id", "v").count() == 50 * 49 // 2
    monkeypatch.setattr(similarity, "MAX_BUCKET", 10)
    assert similarity.lsh_banded_pairs(df, "vec_id", "v").collect() == []


def test_band_keys_table_disjoint(spark):
    """Band keys from different tables can never collide (table id is
    packed above the sign bits)."""
    rng = np.random.default_rng(7)
    df = _emb_df(spark, rng.normal(size=(20, 64)))
    bk = similarity.make_band_keys_udf(4, 16, 64)
    rows = df.select(F.explode(bk(F.col("v"))).alias("band")).collect()
    tables = {r["band"] >> 16 for r in rows}
    assert tables == {0, 1, 2, 3}


def _ivf_numpy_reference(V, n_centroids, nprobe, k, iters=2, init_planes=6):
    """Independent numpy mirror of ivf_train_centroids + ivf_topk."""
    n, dim = V.shape

    def cos(a, b):
        return (a @ b) / np.sqrt((a @ a) * (b @ b))

    Q = np.round(V * float(1 << 20)).astype(np.int64)
    W = np.array(
        [
            [similarity.hyperplane_weight(p, d) for d in range(dim)]
            for p in range(init_planes)
        ]
    )
    proj = V @ W.T  # (n, P)
    buckets = ((proj >= 0).astype(np.int64) << np.arange(init_planes)).sum(axis=1)
    uniq, counts = np.unique(buckets, return_counts=True)
    order = sorted(range(len(uniq)), key=lambda i: (-counts[i], uniq[i]))
    top = [uniq[i] for i in order[:n_centroids]]
    cents = {
        cid: Q[buckets == b].sum(axis=0).astype(np.float64)
        for cid, b in enumerate(top)
    }
    for _ in range(iters):
        cids = sorted(cents)
        C = np.stack([cents[c] for c in cids])
        assign = [
            cids[
                max(range(len(cids)), key=lambda j: (cos(V[i], C[j]), -cids[j]))
            ]
            for i in range(n)
        ]
        cents = {
            c: Q[[i for i in range(n) if assign[i] == c]].sum(axis=0).astype(
                np.float64
            )
            for c in set(assign)
        }
    cids = sorted(cents)
    C = np.stack([cents[c] for c in cids])
    assign = np.array(
        [
            cids[max(range(len(cids)), key=lambda j: (cos(V[i], C[j]), -cids[j]))]
            for i in range(n)
        ]
    )

    def topk(qid):
        sims = sorted(
            range(len(cids)), key=lambda j: (-cos(V[qid], C[j]), cids[j])
        )[:nprobe]
        probed = {cids[j] for j in sims}
        cand = [i for i in range(n) if assign[i] in probed and i != qid]
        return sorted(cand, key=lambda i: (-cos(V[qid], V[i]), i))[:k]

    return topk


def test_ivf_topk_matches_numpy_reference(spark):
    """IVF training (bucket-sum seeding + integer Lloyd), list assignment,
    probing, and refine match an independent numpy implementation of the
    same algorithm."""
    rng = np.random.RandomState(11)
    base = rng.normal(size=(4, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    V = np.vstack([
        base[i % 4] + 0.15 * rng.normal(size=16) for i in range(80)
    ]).astype(np.float64)
    emb = spark.createDataFrame(
        [(i, V[i].tolist()) for i in range(len(V))],
        "vec_id long, embedding array<double>",
    )
    queries = emb.where("vec_id < 6")
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in similarity.ivf_topk(
            emb, queries, "vec_id", "embedding", k=3,
            n_centroids=6, nprobe=2, dim=16,
        ).collect()
    }
    ref = _ivf_numpy_reference(V, n_centroids=6, nprobe=2, k=3)
    for qid in range(6):
        for rank, nid in enumerate(ref(qid), 1):
            assert got[(qid, rank)] == nid, (qid, rank)


def test_ivf_recall_at_k_vs_brute(spark):
    """Round-4 verdict #2 'done' criterion: on clustered synthetic
    embeddings, trained-IVF recall@k vs exact brute force >= 0.9 at
    nprobe=2 (the lowest-id placeholder seeding this trainer replaced had
    arbitrary recall on exactly this kind of input)."""
    rng = np.random.RandomState(123455)
    n_clusters, per, dim, k = 8, 50, 32, 5
    base = rng.normal(size=(n_clusters, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    V = np.vstack([
        base[i % n_clusters] + 0.12 * rng.normal(size=dim)
        for i in range(n_clusters * per)
    ]).astype(np.float64)
    emb = spark.createDataFrame(
        [(i, V[i].tolist()) for i in range(len(V))],
        "vec_id long, embedding array<double>",
    )
    queries = emb.where("vec_id < 40")
    got = {}
    for r in similarity.ivf_topk(
        emb, queries, "vec_id", "embedding", k=k,
        n_centroids=n_clusters, nprobe=2, dim=dim,
    ).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def cos(a, b):
        return (a @ b) / np.sqrt((a @ a) * (b @ b))

    hits = total = 0
    for qid in range(40):
        brute = set(
            sorted(
                (i for i in range(len(V)) if i != qid),
                key=lambda i: (-cos(V[qid], V[i]), i),
            )[:k]
        )
        hits += len(brute & got.get(qid, set()))
        total += k
    recall = hits / total
    assert recall >= 0.9, f"IVF recall@{k} {recall:.3f} < 0.9"


# NULL, short and ragged vector rows: each Arrow kernel masks them to NULL
# and matches a plain-Python spec of its SQL oracle elsewhere. One
# partition puts every row in one Arrow batch.

def _cosine_spec(a, b):
    """In-order float loop; NULL for a NULL or mismatched pair."""
    if a is None or b is None or len(a) != len(b):
        return None
    d = na = nb = 0.0
    for x, y in zip(a, b):
        d += x * y
        na += x * x
        nb += y * y
    return d / math.sqrt(na * nb)


def _quantized_dot_spec(a, b):
    """Integer sum; NULL for a NULL or mismatched pair."""
    if a is None or b is None or len(a) != len(b):
        return None
    return sum(x * y for x, y in zip(a, b))


def _lsh_bucket_spec(v, n_planes, dim):
    """The (elem * w) / 10.0 fold over the first ``dim`` elements, one
    sign bit per plane; NULL for a NULL or short row."""
    if v is None or len(v) < dim:
        return None
    bucket = 0
    for p in range(n_planes):
        acc = 0.0
        for d in range(dim):
            acc += (v[d] * ((d * 11 + p * 37) % 21 - 10)) / 10.0
        if acc >= 0:
            bucket |= 1 << p
    return bucket


def test_seq_cosine_udf_null_and_short_rows(spark):
    from s2_geometry_library_java_spark.operators import similarity as sim

    rows = [
        (1, [1.0, 2.0, 3.0], [3.0, 2.0, 1.0]),
        (2, None, [1.0, 2.0, 3.0]),
        (3, [1.0, 2.0], [1.0, 2.0, 3.0]),
        (4, [1.0, 2.0], [2.0, 5.0]),
    ]
    df = spark.createDataFrame(rows, "id int, a array<double>, b array<double>").coalesce(1)
    got = {r["id"]: r["c"] for r in df.select("id", sim.seq_cosine_udf("a", "b").alias("c")).collect()}
    assert got == {i: _cosine_spec(a, b) for i, a, b in rows}
    assert got[2] is None and got[3] is None and got[4] is not None


def test_seq_quantized_dot_udf_null_and_short_rows(spark):
    from s2_geometry_library_java_spark.operators import similarity as sim

    rows = [
        (1, [1, 2, 3], [3, 2, 1]),
        (2, [1, 2, 3], None),
        (3, [1, 2, 3], [4, 5]),
        (4, [7, 8], [2, 5]),
    ]
    df = spark.createDataFrame(rows, "id int, a array<bigint>, b array<bigint>").coalesce(1)
    got = {r["id"]: r["d"] for r in df.select("id", sim.seq_quantized_dot_udf("a", "b").alias("d")).collect()}
    want = {i: _quantized_dot_spec(a, b) for i, a, b in rows}
    assert got == want == {1: 10, 2: None, 3: None, 4: 54}


def test_lsh_bucket_udf_null_and_short_rows(spark):
    from s2_geometry_library_java_spark.operators import similarity as sim

    full = [0.5, -1.0, 2.0, -0.25]
    rows = [(1, full), (2, None), (3, [0.5, -1.0]), (4, full + [9.0, -9.0])]
    df = spark.createDataFrame(rows, "id int, v array<double>").coalesce(1)
    got = {
        r["id"]: r["b"]
        for r in df.select("id", sim.lsh_bucket_udf(3, 4)("v").alias("b")).collect()
    }
    assert got == {i: _lsh_bucket_spec(v, 3, 4) for i, v in rows}
    assert got[2] is None and got[3] is None
    assert got[1] == got[4] is not None
