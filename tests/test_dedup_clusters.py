"""connected_components (alternating large-star/small-star) vs a
driver-side union-find oracle, plus the near_dup_clusters end-to-end
shape (every doc assigned, component = min reachable id)."""

import random

import pytest
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.operators import dedup
from s2_geometry_library_java_spark.operators.dedup import (
    connected_components,
    near_dup_clusters,
)


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id representative per node
    comp = {}
    for x in list(parent):
        root = find(x)
        comp.setdefault(root, root)
        comp[x] = root
    # roots may not be the min id under naive union-find ordering unless we
    # always attach larger root under smaller (done above), so find(x) IS
    # the min reachable id.
    return {x: find(x) for x in parent}


def _check(spark, pairs):
    edges = spark.createDataFrame(pairs, "a: long, b: long")
    want = set(_union_find(pairs).items())
    # both execution paths must agree with the oracle: the small-graph
    # union-find short circuit (default) and the fully distributed star
    # contraction (a threshold of 0 sends every graph with an edge there)
    for thresh in (dedup.SMALL_GRAPH_EDGES, 0):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(dedup, "SMALL_GRAPH_EDGES", thresh)
            got = {
                (r["id"], r["component"])
                for r in connected_components(edges, "a", "b").collect()
            }
        assert got == want, f"threshold={thresh}"


def test_chain(spark):
    # a long path: worst case for label propagation, O(log n) for stars
    _check(spark, [(i, i + 1) for i in range(60)])


def test_clique_and_singleton_edges(spark):
    pairs = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    pairs += [(100, 101), (200, 201), (300, 301)]
    _check(spark, pairs)


def test_random_graphs(spark):
    rng = random.Random(123455)
    for _ in range(3):
        n = 120
        pairs = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(90)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        _check(spark, pairs)


def test_reversed_and_duplicate_edges(spark):
    _check(spark, [(5, 1), (1, 5), (5, 1), (9, 5), (2, 9), (7, 3)])


def test_embedding_cosine_near_dup_clusters(spark):
    """Embedding-cosine near-dup DEDUP: banded hyperplane LSH pairs +
    exact cosine refine, contracted to clusters by connected components —
    each perturbed twin must land in its original's component."""
    from s2_geometry_library_java_spark.operators.similarity import lsh_banded_pairs

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(150)
    )
    twins = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x + F.when(i == 0, F.lit(0.05)).otherwise(0.0)
        ).alias("embedding"),
    )
    d = emb.unionByName(twins)
    pairs = lsh_banded_pairs(
        d, "vec_id", "embedding", n_tables=4, planes_per_table=16, dim=64,
        min_cosine=0.9,
    )
    comp = connected_components(pairs, "a", "b")
    lookup = {r["id"]: r["component"] for r in comp.collect()}
    n = emb.count()
    linked = sum(
        1 for vid in range(n)
        if vid in lookup and lookup.get(vid) == lookup.get(vid + 1000000)
    )
    # banded LSH is approximate: >= 90% of twins must cluster with their
    # original (matches the banded-recall bound test_similarity_banded pins)
    assert linked >= 0.9 * n, f"{linked}/{n} twins clustered"


def test_near_dup_clusters_assigns_every_doc(spark):
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
    )
    twins = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.substring("text", 1, 200).alias("text"),
    )
    d = docs.unionByName(twins)
    out = near_dup_clusters(d, "doc_id", "text")
    rows = out.collect()
    assert len(rows) == d.count()  # every doc assigned exactly once
    comp = {r["id"]: r["component"] for r in rows}
    # component representative is a member of the component and is minimal
    by_comp = {}
    for i, c in comp.items():
        assert c <= i
        by_comp.setdefault(c, []).append(i)
    for c, members in by_comp.items():
        assert c == min(members)


def test_keep_best_per_cluster(spark):
    from s2_geometry_library_java_spark.operators import dedup as dd

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (9, 9), (10, 9)],
        "id long, component long",
    )
    quality = spark.createDataFrame(
        [(1, 50), (2, 90), (3, 90), (7, 10), (9, 30), (10, 30)],
        "id long, quality long",
    )
    out = {
        r["id"]: r["is_kept"]
        for r in dd.keep_best_per_cluster(clusters, quality).collect()
    }
    # cluster 1: quality tie 90/90 between 2 and 3 -> id asc keeps 2
    assert out == {1: False, 2: True, 3: False, 7: True, 9: True, 10: False}


def test_lsh_estimates(spark):
    from s2_geometry_library_java_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),  # identical
            (3, "alpha beta gamma delta epsilon zeta eta iota"),   # near
            (4, "completely different words everywhere here now"),
        ],
        "doc_id long, text string",
    )
    rows = dd.lsh_pairs_with_estimates(docs, "doc_id", "text").collect()
    est = {(r["a"], r["b"]): (r["sig_matches"], r["est_pct"]) for r in rows}
    # identical docs share every signature component
    assert est[(1, 2)] == (8, 100)
    # near pair (if banded in) matches fewer than all components... but at
    # least one band (2 components); floor division exact
    for (a, b), (m, p) in est.items():
        assert 0 <= m <= 8 and p == (m * 100) // 8
    assert (1, 4) not in est and (2, 4) not in est  # unrelated: no band
