"""Tests for the benchmark's own generator and output checks (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import dataclasses
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402


def rng(*key):
    return np.random.default_rng([7, *key])


@pytest.fixture(scope="module")
def model():
    return gen.TextModel(gen.make_vocab(rng(0)))


def polygon(n=64, convex=False, key=1):
    return gen.make_polygon(rng(key), "p", n, (30.0, 10.0), 3.0, convex)


# -- generator ----------------------------------------------------------------

def test_generator_is_deterministic_per_seed(model):
    a, b = polygon(), polygon()
    assert np.array_equal(a.lat, b.lat) and np.array_equal(a.lng, b.lng)
    d1 = gen.make_dedup_docs(rng(2), model, 500)
    d2 = gen.make_dedup_docs(rng(2), model, 500)
    assert np.array_equal(d1.doc_id, d2.doc_id) and d1.text == d2.text
    assert d1.near_of == d2.near_of and d1.exact_of == d2.exact_of
    d3 = gen.make_dedup_docs(rng(3), model, 500)
    assert not np.array_equal(d1.doc_id, d3.doc_id)
    assert np.array_equal(gen.make_vocab(rng(0)), model.vocab)


def test_clockwise_polygon_is_rejected():
    p = polygon()
    gen.check_polygon(p)
    clockwise = dataclasses.replace(
        p, lat=p.lat[::-1].copy(), lng=p.lng[::-1].copy(), plane=p.plane[::-1].copy()
    )
    with pytest.raises(gen.GeneratorError, match="clockwise"):
        gen.check_polygon(clockwise)


def test_digit_bearing_vocabulary_is_rejected(model):
    bad = model.vocab.copy()
    bad[5] = "abc1"
    with pytest.raises(gen.GeneratorError, match=r"\[a-z\]"):
        gen.check_vocab(bad)
    with pytest.raises(gen.GeneratorError, match="need"):
        gen.check_vocab(model.vocab[:1000])


def test_lookup_polygons_need_more_edges_than_the_brute_threshold():
    small = [polygon(n=40, key=k) for k in range(3)]
    with pytest.raises(gen.GeneratorError):
        gen.check_lookup_polygons(small, 256)
    gen.check_lookup_polygons(small + [polygon(n=200)], 256)


def test_text_passes_the_quality_rule_and_words_are_zipf(model):
    texts = model.texts(rng(4), 400, 40, 90)
    kept = np.mean([checks.quality_keep(t) for t in texts])
    assert kept > 0.9
    words = model.words(rng(5), 50_000)
    top = np.unique(words, return_counts=True)[1]
    assert top.max() < 0.25 * len(words)  # no single word dominates


def test_polygon_oracle_agrees_with_the_engine_loop():
    from s2_geometry_library_java_spark.kernel import region as rg

    p = polygon(n=128)
    lat, lng = gen.uniform_latlng(rng(6), 20_000)
    lat = np.concatenate([lat, rng(7).normal(30.0, 2.0, 5000)])
    lng = np.concatenate([lng, rng(8).normal(10.0, 2.0, 5000)])
    xyz = gen.latlng_deg_to_xyz(lat, lng)
    loop = rg.Loop.from_latlng_degrees(list(zip(p.lat, p.lng)))
    engine = loop.contains_points(xyz[:, 0], xyz[:, 1], xyz[:, 2])
    ours = gen.polygons_contain(p, xyz)
    assert ours.sum() > 500
    assert np.array_equal(engine, ours)


# -- output checks flag corrupted results ---------------------------------------

def test_geotag_checks_flag_a_corrupted_rollup():
    ids = gen.distinct_ids(rng(9), 2000, gen.DOC_ID_HIGH)
    polys = [gen.make_polygon(rng(10 + k), f"g{k}", 64, (0.0, 40.0 * k - 60), 20.0, k % 2 == 0)
             for k in range(4)]
    key, lat, lng = checks.expected_geotags(ids)
    inside = checks.membership(polys, gen.latlng_deg_to_xyz(lat, lng))

    def tiles_of(la, ln):
        return (np.floor(la) * 1000 + np.floor(ln)).astype(np.int64)

    tiles = tiles_of(lat, lng)
    rows = []
    for j, p in enumerate(polys):
        t, c = np.unique(tiles[inside[:, j]], return_counts=True)
        rows += [(int(a), p.pid, int(b)) for a, b in zip(t, c)]
    t, c = np.unique(tiles[~inside.any(axis=1)], return_counts=True)
    rows += [(int(a), None, int(b)) for a, b in zip(t, c)]
    assert inside.any()
    n = int(inside.sum() + (~inside.any(axis=1)).sum())
    assert checks.check_geotag(rows, n, ids, polys, tiles_of) == []
    bad = list(rows)
    bad[0] = (bad[0][0], bad[0][1], bad[0][2] + 1)
    assert checks.check_geotag(bad, n, ids, polys, tiles_of)
    assert checks.check_geotag(rows, n - 1, ids, polys, tiles_of)


def test_pip_check_flags_a_wrong_count():
    p = polygon(n=96)
    lat = rng(11).normal(30.0, 3.0, 4000)
    lng = rng(12).normal(10.0, 3.0, 4000)
    xyz = gen.latlng_deg_to_xyz(lat, lng)
    n = int(gen.polygons_contain(p, xyz).sum())
    assert checks.check_pip_counts([("p", n)], [p], xyz) == []
    assert checks.check_pip_counts([("p", n + 1)], [p], xyz)


def test_knn_check_flags_a_wrong_neighbour():
    lat, lng = gen.uniform_latlng(rng(13), 5000)
    ixyz = gen.latlng_deg_to_xyz(lat, lng)
    ids = np.arange(5000, dtype=np.int64) * 3
    qlat, qlng = gen.uniform_latlng(rng(14), 20)
    qxyz = gen.latlng_deg_to_xyz(qlat, qlng)
    qids = np.arange(20, dtype=np.int64)
    rows = []
    for q, (nid, d2) in zip(qids, checks.brute_knn(qxyz, ixyz, ids, 5)):
        rows += [(int(q), r + 1, int(n), float(d)) for r, (n, d) in enumerate(zip(nid, d2))]
    assert checks.check_knn(rows, qids, qxyz, ixyz, ids, 5) == []
    q, r, _, d = rows[3]
    bad = rows[:3] + [(q, r, int(ids[-1]) + 1, d + 1.0)] + rows[4:]
    assert checks.check_knn(bad, qids, qxyz, ixyz, ids, 5)
    assert checks.check_knn(rows[1:], qids, qxyz, ixyz, ids, 5)


def test_closest_edge_check_flags_a_wrong_edge():
    p = polygon(n=48)
    qlat = rng(15).normal(30.0, 5.0, 50)
    qlng = rng(16).normal(10.0, 5.0, 50)
    qxyz = gen.latlng_deg_to_xyz(qlat, qlng)
    qids = np.arange(50, dtype=np.int64)
    v = p.xyz
    d = checks.point_edge_chord2(qxyz, v, np.roll(v, -1, axis=0))
    rows = [(int(q), 1, "p", int(e), float(d[q, e])) for q, e in zip(qids, d.argmin(axis=1))]
    assert checks.check_closest_edges(rows, qids, qxyz, [p]) == []
    q, r, s, e, d2 = rows[0]
    wrong = (e + 24) % 48
    bad = [(q, r, s, wrong, float(d[q, wrong]))] + rows[1:]
    assert checks.check_closest_edges(bad, qids, qxyz, [p])


def test_point_edge_distance_matches_dense_sampling():
    a = gen.latlng_deg_to_xyz(10.0, 20.0)[None]
    b = gen.latlng_deg_to_xyz(12.0, 25.0)[None]
    p = gen.latlng_deg_to_xyz(np.array([11.5, 0.0, 11.0]), np.array([22.0, 0.0, 30.0]))
    t = np.linspace(0.0, 1.0, 20001)[:, None]
    arc = a * (1 - t) + b * t
    arc /= np.linalg.norm(arc, axis=1, keepdims=True)
    dense = checks.chord2(p[:, None, :], arc[None]).min(axis=1)
    got = checks.point_edge_chord2(p, a, b)[:, 0]
    assert np.allclose(got, dense, rtol=1e-6, atol=1e-12)


def test_dedup_checks_flag_corrupted_groups_and_manifest(model):
    batch = gen.make_dedup_docs(rng(17), model, 600)
    canon = checks.md5_groups(batch.doc_id, batch.text)
    size = {c: list(canon.values()).count(c) for c in set(canon.values())}
    rows = [(i, size[c], c) for i, c in canon.items()]
    assert checks.check_exact_groups(rows, batch) == []
    copy, orig = next(iter(batch.exact_of.items()))
    assert canon[copy] == canon[orig]
    bad = [(i, g, i if i == copy else c) for i, g, c in rows]
    assert checks.check_exact_groups(bad, batch)

    want = checks.expected_funnel(batch)
    keep = sorted(i for i, c in want["canonical"].items() if i == c)[:100]
    manifest = [(i, i) for i in keep]
    funnel = {"raw": want["raw"], "quality_kept": want["quality_kept"],
              "exact_canonical": want["exact_canonical"], "near_dup_kept": 150,
              "mix_sampled": 100}
    assert checks.check_corpus(manifest, funnel, batch, total=100) == []
    assert checks.check_corpus(manifest + [manifest[0]], funnel, batch, total=100)
    assert checks.check_corpus(manifest, dict(funnel, exact_canonical=1), batch, total=100)
    non_canon = next(i for i, c in want["canonical"].items() if i != c)
    assert checks.check_corpus(manifest[:-1] + [(non_canon, non_canon)], funnel, batch, 100)

    comp = {int(i): int(i) for i in batch.doc_id}
    for c, o in {**batch.near_of, **batch.exact_of}.items():
        comp[c] = comp[o] = min(c, o, comp[o])
    errs, stats = checks.near_dup_stats(list(comp.items()), batch)
    assert errs == [] and stats["false_merges"] == 0
    comp[copy] = copy + 10**15
    errs, _ = checks.near_dup_stats(list(comp.items()), batch)
    assert errs
