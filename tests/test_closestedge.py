"""F5 closest-edge query: ring-probe + JVM edge distance == numpy brute
force (the knn_brute/knn_cell pairing pattern for edges)."""

import numpy as np

from s2_geometry_library_java_spark.kernel import cellid as s2
from s2_geometry_library_java_spark.kernel import edges as ek
from s2_geometry_library_java_spark.operators import closestedge, ringsearch
from s2_geometry_library_java_spark.operators import shapes as shape_ops


def test_closest_edges_matches_bruteforce(spark):
    rng = np.random.default_rng(31)
    texts = []
    geoms = {}
    for s in range(6):
        clat = float(rng.uniform(-50, 50))
        clng = float(rng.uniform(-160, 160))
        h = float(rng.uniform(3, 7))
        pts = [
            (clat - h, clng - h),
            (clat - h, clng + h),
            (clat + h, clng + h),
            (clat + h, clng - h),
        ]
        text = ", ".join(f"{la!r}:{ln!r}" for la, ln in pts)
        texts.append((f"s{s}", text))
        from s2_geometry_library_java_spark.kernel import region as rg

        geoms[f"s{s}"] = rg.Polygon.from_text(text).loops[0].vertices
    shapes = spark.createDataFrame(texts, "shape_id string, text string")
    idx = shape_ops.shape_index_df(shapes, min_level=4)

    nq = 60
    v = rng.normal(size=(nq, 3))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    lat, lng = s2.xyz_to_latlng(v[:, 0], v[:, 1], v[:, 2])
    qdf = spark.createDataFrame(
        [(i, float(np.degrees(lat[i])), float(np.degrees(lng[i]))) for i in range(nq)],
        "query_id long, lat double, lng double",
    )
    got = {}
    for r in closestedge.closest_edges(idx, qdf, k=3, level=4).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["shape_id"], r["edge_id"], r["chord2"])
        )
    # brute force with the numpy kernel over every (shape, edge)
    all_edges = []
    for sid, verts in geoms.items():
        vb = np.roll(verts, -1, axis=0)
        for e in range(len(verts)):
            all_edges.append((sid, e, verts[e], vb[e]))
    for i in range(nq):
        d = [
            (
                float(ek.min_chord2_to_edges(v[i][None], a[None], b[None])[0]),
                sid,
                e,
            )
            for sid, e, a, b in all_edges
        ]
        d.sort()
        want = [(rk + 1, sid, e) for rk, (_, sid, e) in enumerate(d[:3])]
        have = sorted(got[i])
        assert [(r, s, e) for r, s, e, _ in have] == want, (i, have, want)
        # distances agree to FP noise (the query xyz round-trips through
        # lat/lng degrees on the Spark side; bit parity on identical xyz is
        # asserted separately below)
        for (rk, sid, e, c2), (dd, _, _) in zip(have, d[:3]):
            assert abs(c2 - dd) < 1e-14, (c2, dd)


def test_edge_chord2_column_bit_matches_kernel(spark):
    """edge_min_chord2_cols (JVM) == kernel/edges.min_chord2_to_edges
    (numpy) bit-for-bit on identical xyz inputs."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(5)
    v = rng.normal(size=(120, 3))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    p, a, b = v[:40], v[40:80], v[80:]
    rows = [
        tuple(float(x) for x in np.concatenate([p[i], a[i], b[i]]))
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "px double, py double, pz double, ax double, ay double, az double, bx double, by double, bz double"
    )
    got = [
        r["c2"]
        for r in df.select(
            closestedge.edge_min_chord2_cols(
                F.col("px"), F.col("py"), F.col("pz"),
                F.col("ax"), F.col("ay"), F.col("az"),
                F.col("bx"), F.col("by"), F.col("bz"),
            ).alias("c2")
        ).collect()
    ]
    want = ek.min_chord2_to_edges(p, a, b)
    assert got == list(want), (got[:3], want[:3])


def _assert_furthest_brute(rows, texts, qs, k):
    """furthest_edges ``rows`` equal the numpy brute maximum-distance
    ranking (max over each edge's points, per the reference semantics),
    ties by (shape, edge) as the operator orders them."""
    from s2_geometry_library_java_spark.kernel import region as rg

    got = {
        (r["query_id"], r["rank"]): (r["shape_id"], r["edge_id"], r["chord2"])
        for r in rows
    }
    edges = []
    for sid, t in texts.items():
        v = rg.Polygon.from_text(t).loops[0].vertices
        for e in range(len(v)):
            edges.append((sid, e, v[e], v[(e + 1) % len(v)]))
    for qid, la, ln in qs:
        x, y, z = s2.latlng_to_xyz(np.radians(la), np.radians(ln))
        p = np.array([float(x), float(y), float(z)])
        scored = []
        for sid, e, a, b in edges:
            far = float(ek.max_chord2_to_edges(p[None], a[None], b[None])[0])
            # rank by near-chord2 of the antipode ascending == far desc
            scored.append((4.0 - far, sid, e, far))
        scored.sort()
        for rank in range(1, k + 1):
            _, wsid, we, wfar = scored[rank - 1]
            gsid, ge, gfar = got[(qid, rank)]
            assert (gsid, ge) == (wsid, we), (qid, rank)
            assert abs(gfar - wfar) < 1e-9


def test_furthest_edges_antipode_identity(spark):
    """F5 furthest-edge query: results equal the numpy brute maximum-
    distance ranking (max over edge points, per the reference semantics)."""
    texts = {
        "s0": "0.0:0.0, 0.0:10.0, 10.0:10.0, 10.0:0.0",
        "s1": "-30.0:60.0, -30.0:70.0, -20.0:70.0, -20.0:60.0",
    }
    shapes = spark.createDataFrame(
        list(texts.items()), "shape_id string, text string"
    )
    idx = shape_ops.shape_index_df(shapes, min_level=4)
    qs = [(1, 5.0, 5.0), (2, -40.0, -120.0), (3, 70.0, 30.0)]
    queries = spark.createDataFrame(qs, "query_id long, lat double, lng double")
    rows = closestedge.furthest_edges(idx, queries, k=2, level=4).collect()
    _assert_furthest_brute(rows, texts, qs, 2)


#: all shapes inside one ~2-degree patch: a clustered index
_CLUSTERED = {
    f"s{i}": f"{10 + 0.4 * i}:{20.0}, {10 + 0.4 * i}:{20.6}, "
             f"{10.3 + 0.4 * i}:{20.6}, {10.3 + 0.4 * i}:{20.0}"
    for i in range(4)
}
#: queries near the cluster: their ANTIPODES are far from every cell
_NEAR_CLUSTER = [(1, 11.0, 20.3), (2, 12.0, 20.1)]


def _covering_spy(monkeypatch):
    calls = {"covering": 0}
    real = closestedge.covering_pruned_edges

    def spy(*a, **k):
        calls["covering"] += 1
        return real(*a, **k)

    monkeypatch.setattr(closestedge, "covering_pruned_edges", spy)
    return calls


def test_furthest_covering_seed_engages_on_clustered_index(spark, monkeypatch):
    """Max-distance covering seed (NOTES_ROUND3 gap): with a CLUSTERED
    index, the antipode query points are far from every index cell, so
    the covering-pruned path must handle them (zero ring rounds for those
    queries) and the results still equal the brute max-distance ranking.
    The constants are patched so that the 16-edge index takes the seed:
    no tiny-index pass, no local pass, a seed threshold of 1."""
    shapes = spark.createDataFrame(
        list(_CLUSTERED.items()), "shape_id string, text string"
    )
    idx = shape_ops.shape_index_df(shapes, min_level=4)
    queries = spark.createDataFrame(
        _NEAR_CLUSTER, "query_id long, lat double, lng double"
    )
    monkeypatch.setattr(closestedge, "SMALL_INDEX_BRUTE_EDGES", 0)
    monkeypatch.setattr(ringsearch, "LOCAL_PAIRS_MAX", 0)
    monkeypatch.setattr(closestedge, "AUTO_COVERING_SEED_EDGES", 1)
    calls = _covering_spy(monkeypatch)
    rows = closestedge.furthest_edges(idx, queries, k=2, level=4).collect()
    assert calls["covering"] == 1, "covering seed did not engage"
    _assert_furthest_brute(rows, _CLUSTERED, _NEAR_CLUSTER, 2)


def test_furthest_covering_seed_auto_threshold(spark, monkeypatch):
    """When the local pass declines, furthest_edges takes the covering-
    pruned path iff the index edge count reaches AUTO_COVERING_SEED_EDGES,
    with identical results either way."""
    shapes = spark.createDataFrame(
        list(_CLUSTERED.items()), "shape_id string, text string"
    )
    idx = shape_ops.shape_index_df(shapes, min_level=4)
    queries = spark.createDataFrame(
        _NEAR_CLUSTER, "query_id long, lat double, lng double"
    )
    monkeypatch.setattr(closestedge, "SMALL_INDEX_BRUTE_EDGES", 0)
    monkeypatch.setattr(ringsearch, "LOCAL_PAIRS_MAX", 0)
    calls = _covering_spy(monkeypatch)

    def run():
        return sorted(
            (r["query_id"], r["rank"], r["shape_id"], r["edge_id"],
             round(r["chord2"], 12))
            for r in closestedge.furthest_edges(idx, queries, k=2, level=4).collect()
        )

    # 16 indexed edges: below the default threshold -> ring path
    monkeypatch.setattr(closestedge, "AUTO_COVERING_SEED_EDGES", 50_000)
    base = run()
    assert calls["covering"] == 0, "seed engaged below the threshold"

    # threshold of 1: the same call routes through the covering seed
    monkeypatch.setattr(closestedge, "AUTO_COVERING_SEED_EDGES", 1)
    seeded = run()
    assert calls["covering"] == 1, "seed did not engage"
    assert seeded == base


def test_furthest_local_pass_before_seed_route(spark, count_jobs, monkeypatch):
    """Route order: a query side inside the pair budget takes the local
    pass even when the index reaches the covering-seed threshold — plan
    build plus action stay within the local pass's pinned job count (the
    seed route runs dozens) and the rows equal the brute max-distance
    ranking."""
    from tests.test_ringsearch import LOCAL_EDGES_JOBS

    # 8 clustered 40-gons: 320 edges, above SMALL_INDEX_BRUTE_EDGES
    t = np.linspace(0.0, 2 * np.pi, 40, endpoint=False)
    texts = {
        f"c{i}": ", ".join(
            f"{float(10 + 0.25 * i + 0.1 * np.sin(a))!r}:{float(20 + 0.1 * np.cos(a))!r}"
            for a in t
        )
        for i in range(8)
    }
    shapes = spark.createDataFrame(list(texts.items()), "shape_id string, text string")
    idx = shape_ops.shape_index_df(shapes, min_level=4)
    qs = [(i, 10.0 + 0.3 * i, 19.5 + 0.2 * i) for i in range(6)]
    queries = spark.createDataFrame(qs, "query_id long, lat double, lng double")
    monkeypatch.setattr(closestedge, "AUTO_COVERING_SEED_EDGES", 1)
    calls = _covering_spy(monkeypatch)
    rows, n_jobs = count_jobs(
        "furthest-local",
        lambda: closestedge.furthest_edges(idx, queries, k=2, level=4).collect(),
    )
    assert calls["covering"] == 0, "the covering seed ran before the local pass"
    assert n_jobs <= LOCAL_EDGES_JOBS, n_jobs
    _assert_furthest_brute(rows, texts, qs, 2)


def test_include_interiors_closest(spark):
    """Options.includeInteriors (S2BestEdgesQueryBase.java:399,410): a
    query point inside a polygon gets a distance-zero interior result
    with edge_id = -1 ranked FIRST; outside points are unchanged."""
    shapes_df = spark.createDataFrame(
        [
            ("s0", "10.0:20.0, 10.0:30.0, 20.0:30.0, 20.0:20.0"),
            ("s1", "-40.0:-120.0, -40.0:-110.0, -30.0:-110.0, -30.0:-120.0"),
        ],
        "shape_id string, text string",
    ).coalesce(1)
    idx = shape_ops.shape_index_df(shapes_df, min_level=4)
    qdf = spark.createDataFrame(
        [(0, 15.0, 25.0),      # inside s0
         (1, -35.0, -115.0),   # inside s1
         (2, 15.0, 40.0)],     # outside both
        "query_id long, lat double, lng double",
    )
    rows = {
        r["query_id"]: r
        for r in closestedge.closest_edges(
            idx, qdf, k=1, level=4, interiors=shapes_df
        ).collect()
    }
    assert rows[0]["shape_id"] == "s0" and rows[0]["edge_id"] == -1
    assert rows[0]["chord2"] == 0.0 and rows[0]["rank"] == 1
    assert rows[1]["shape_id"] == "s1" and rows[1]["edge_id"] == -1
    # outside point: a normal edge result, identical to the no-option run
    base = closestedge.closest_edges(idx, qdf, k=1, level=4).collect()
    base2 = {r["query_id"]: r for r in base}[2]
    assert rows[2]["edge_id"] == base2["edge_id"] >= 0
    assert rows[2]["chord2"] == base2["chord2"]


def test_include_interiors_topk_merge(spark):
    """k=2 inside a shape: rank 1 is the interior zero, rank 2 the true
    nearest boundary edge (the reference Result ordering — interior rows
    merge into the same top-k, S2BestEdgesQueryBase.java:317)."""
    shapes_df = spark.createDataFrame(
        [("s0", "10.0:20.0, 10.0:30.0, 20.0:30.0, 20.0:20.0")],
        "shape_id string, text string",
    ).coalesce(1)
    idx = shape_ops.shape_index_df(shapes_df, min_level=4)
    qdf = spark.createDataFrame(
        [(0, 15.0, 25.0)], "query_id long, lat double, lng double"
    )
    rows = sorted(
        closestedge.closest_edges(
            idx, qdf, k=2, level=4, interiors=shapes_df
        ).collect(),
        key=lambda r: r["rank"],
    )
    assert [r["rank"] for r in rows] == [1, 2]
    assert rows[0]["edge_id"] == -1 and rows[0]["chord2"] == 0.0
    assert rows[1]["edge_id"] >= 0 and rows[1]["chord2"] > 0.0
    base = closestedge.closest_edges(idx, qdf, k=1, level=4).collect()[0]
    assert (rows[1]["shape_id"], rows[1]["edge_id"], rows[1]["chord2"]) == (
        base["shape_id"], base["edge_id"], base["chord2"]
    )


def test_include_interiors_furthest_antipode(spark):
    """S2FurthestEdgeQuery interiors (S2FurthestEdgeQuery.java:369-381):
    a shape containing the query's ANTIPODE yields an interior result at
    the maximum distance chord2 = 4.0."""
    shapes_df = spark.createDataFrame(
        [("s0", "10.0:20.0, 10.0:30.0, 20.0:30.0, 20.0:20.0")],
        "shape_id string, text string",
    ).coalesce(1)
    idx = shape_ops.shape_index_df(shapes_df, min_level=4)
    # antipode of (15, 25) is (-15, -155): query from there
    qdf = spark.createDataFrame(
        [(0, -15.0, -155.0), (1, 15.0, 40.0)],
        "query_id long, lat double, lng double",
    )
    rows = {
        r["query_id"]: r
        for r in closestedge.furthest_edges(
            idx, qdf, k=1, level=4, interiors=shapes_df
        ).collect()
    }
    assert rows[0]["edge_id"] == -1 and rows[0]["chord2"] == 4.0
    assert rows[0]["shape_id"] == "s0" and rows[0]["rank"] == 1
    # antipode of (15, 40) = (-15, -140): outside s0 — normal edge result
    assert rows[1]["edge_id"] >= 0 and rows[1]["chord2"] < 4.0


def test_ring_rounds_exact_past_strict_bound(spark, monkeypatch):
    """A query whose nearest edge lies inside its 3x3 ring but past the
    strict MIN_WIDTH(lvl) completeness bound is not finished by the first
    ring round: it retries at coarser levels, and the ring rounds still
    return the exact nearest edge, equal to the tiny-index exact pass."""
    from s2_geometry_library_java_spark.kernel import sphere
    from s2_geometry_library_java_spark.plans import cache

    lvl = 8
    w = float(sphere.metric_value(sphere.MIN_WIDTH_DERIV, lvl))
    d_deg = float(np.degrees(1.5 * w))
    # long quad whose near edge passes ~1.5*MIN_WIDTH(lvl) from the query:
    # inside the 3x3 ring (candidates found) but past the strict bound
    text = f"{d_deg!r}:-10.0, {d_deg!r}:10.0, {d_deg + 5.0!r}:10.0, {d_deg + 5.0!r}:-10.0"
    shapes_df = spark.createDataFrame(
        [("s0", text)], "shape_id string, text string"
    ).coalesce(1)
    idx = shape_ops.shape_index_df(shapes_df, min_level=lvl)
    qdf = spark.createDataFrame(
        [(0, 0.0, 0.0)], "query_id long, lat double, lng double"
    )
    # the 158-row index takes the tiny-index exact pass by default
    exact = closestedge.closest_edges(idx, qdf, k=1, level=lvl).collect()
    # keep it off that pass and the one query off the local pass
    monkeypatch.setattr(closestedge, "SMALL_INDEX_BRUTE_EDGES", 0)
    monkeypatch.setattr(ringsearch, "LOCAL_PAIRS_MAX", 0)
    with cache.scope():
        ring = closestedge.closest_edges(idx, qdf, k=1, level=lvl).collect()
    assert exact[0]["chord2"] > float(sphere.chord2_from_angle(w))
    assert [tuple(r) for r in ring] == [tuple(r) for r in exact]
