"""Golden coverings: RegionCoverer cells and pip's interior flags pinned as
cell tokens, cell for cell.

The coverer's cell tests are batched (kernel/region.py); a batching change
that reorders the queue or flips one may-intersect or contains verdict
shows up here as a different token list. The polygons
are the coverer fixtures' polygon entries, the pip_general gate's
polygons (a concave L, a quad with a hole, a triangle), and eight
star-shaped loops built the way the benchmark's generator builds them:
geo_lookup's 1.5 deg loops of 40-96 vertices and geotag_docs' 4-12 deg
loops of 8-1,024 vertices, convex and concave.

``python tests/test_covering_golden.py`` prints the GOLDEN literal for the
tree on its PYTHONPATH.

The work-count guard below pins the batching itself: the numpy passes per
batched cell-test call may not grow with the vertex count.
"""

from __future__ import annotations

import numpy as np
import pytest

from s2_geometry_library_java_spark.kernel import cell
from s2_geometry_library_java_spark.kernel import cellid as ci
from s2_geometry_library_java_spark.kernel import coverer as cv
from s2_geometry_library_java_spark.kernel import predicates
from s2_geometry_library_java_spark.kernel import region as rg
from s2_geometry_library_java_spark.operators import pip
from s2_geometry_library_java_spark.queries import _TERM_LEVELS, general_polygons

#: the polygon entries of tests/test_coverer.py REGIONS
FIXTURE_TEXTS = {
    "square_5_15": "5:15, 5:25, 15:25, 15:15",
    "square_m35_135": "-35:135, -35:145, -25:145, -25:135",
}

#: (name, vertices, center lat/lng, radius deg, convex)
STAR_SPECS = [
    ("lookup_40", 40, (40.71, -74.01), 1.5, False),
    ("lookup_64", 64, (-12.3, 48.9), 1.5, True),
    ("lookup_80", 80, (51.51, -0.13), 1.5, False),
    ("lookup_96", 96, (33.2, 131.7), 1.5, True),
    ("geotag_8", 8, (22.4, -101.8), 4.0, True),
    ("geotag_128", 128, (-41.7, 17.3), 7.0, False),
    ("geotag_512", 512, (57.9, 62.2), 10.0, True),
    ("geotag_1024", 1024, (-3.6, -158.4), 12.0, False),
]


def star_polygon(seed: int, n: int, center, radius_deg: float, convex: bool) -> rg.Polygon:
    """Counter-clockwise star loop about ``center``: vertices on a circle,
    their radius jittered when concave (the benchmark generator's shape)."""
    rng = np.random.default_rng(seed)
    lat, lng = np.radians(center[0]), np.radians(center[1])
    c = np.array([np.cos(lat) * np.cos(lng), np.cos(lat) * np.sin(lng), np.sin(lat)])
    e = np.array([-np.sin(lng), np.cos(lng), 0.0])
    north = np.cross(c, e)
    k = np.arange(n)
    theta = 2.0 * np.pi * (k + 0.8 * rng.random(n)) / n
    rho = np.full(n, np.radians(radius_deg))
    if not convex:
        rho *= 1.0 - 0.6 * rng.random(n)
    t = np.tan(rho)
    v = c[None, :] + (t * np.cos(theta))[:, None] * e + (t * np.sin(theta))[:, None] * north
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    vlat = np.degrees(np.arctan2(v[:, 2], np.hypot(v[:, 0], v[:, 1])))
    vlng = np.degrees(np.arctan2(v[:, 1], v[:, 0]))
    return rg.Polygon([rg.Loop.from_latlng_degrees(list(zip(vlat, vlng)))])


def polygons() -> dict:
    out = {name: rg.Polygon.from_text(text) for name, text in FIXTURE_TEXTS.items()}
    out.update(general_polygons())
    for seed, (name, n, center, radius, convex) in enumerate(STAR_SPECS):
        out[name] = star_polygon(seed, n, center, radius, convex)
    return out


def _tokens(ids) -> str:
    return " ".join(str(t) for t in ci.to_token(np.array(ids, dtype=np.uint64)))


def _flagged(rows) -> str:
    ids = np.array([int(cid) for cid, _ in rows], dtype=np.int64).view(np.uint64)
    return " ".join(
        f"{tok}:{int(flag)}" for tok, (_, flag) in zip(ci.to_token(ids), rows)
    )


def cases():
    """(case name, thunk giving its token string)."""
    polys = polygons()
    out = []
    for name in FIXTURE_TEXTS:
        for max_cells in (4, 8, 20):
            coverer = cv.RegionCoverer(max_cells=max_cells)
            out.append((f"{name}/cover{max_cells}",
                        lambda c=coverer, p=polys[name]: _tokens(c.get_covering(p))))
            out.append((f"{name}/interior{max_cells}",
                        lambda c=coverer, p=polys[name]: _tokens(c.get_interior_covering(p))))
    star8 = cv.RegionCoverer(max_cells=8)
    terms = cv.RegionCoverer(max_cells=8, **_TERM_LEVELS)
    fine = cv.RegionCoverer(max_cells=64)
    for name in [*general_polygons(), *(spec[0] for spec in STAR_SPECS)]:
        p = polys[name]
        out.append((f"{name}/cover8", lambda p=p: _tokens(star8.get_covering(p))))
        out.append((f"{name}/interior8", lambda p=p: _tokens(star8.get_interior_covering(p))))
        # a finer covering, so the interior flags are not all false
        out.append((f"{name}/flags64", lambda p=p: _flagged(pip.covering_cells(fine, p))))
    for name, p in polys.items():
        out.append((f"{name}/terms", lambda p=p: _tokens(terms.get_covering(p))))

    def pip_rows():
        pip._COVERING_MEMO.clear()
        rows = pip.covering_rows(polys)
        return " ".join(
            f"{pid}=" + _flagged([(c, f) for q, c, f in rows if q == pid]) for pid in polys
        )

    out.append(("covering_rows", pip_rows))
    return out


GOLDEN: dict[str, str] = {
    'square_5_15/cover4': '10c 114 16d 173',
    'square_5_15/interior4': '10d4 10dc 1124 112c',
    'square_5_15/cover8': '10d 10f 111 113 16cc 16d4 172c 1734',
    'square_5_15/interior8': '10d4 10dc 10e9 1117 1124 112c 16cd 1733',
    'square_5_15/cover20': '10d 10e4 10ec 1114 111c 113 16cc 16d4 172c 1734',
    'square_5_15/interior20': '10c3 10c5 10cd 10cf 10d4 10dc 10e1 10e7 10e9 1117 1119 111f 1124 112c 16cd 16d3 16d5 172b 172d 1733',
    'square_m35_135/cover4': '2ac 2b2b 6a4 6ac',
    'square_m35_135/interior4': '6a5c 6a9 6aa4 6aec',
    'square_m35_135/cover8': '2aac 2ab4 2acc 2ad4 2b2b 6a5 6a7 6ac',
    'square_m35_135/interior8': '6a5c 6a7d 6a9 6aa4 6aa9 6ac1 6aec 6af4',
    'square_m35_135/cover20': '2aac 2ab4 2acc 2ad4 2b2b 6a5 6a64 6a684 6a7c 6a9 6ab 6ac4 6adc 6af',
    'square_m35_135/interior20': '6a51 6a57 6a5c 6a61 6a63 6a7d 6a9 6aa4 6aa9 6abb 6abd 6abf 6ac1 6ac3 6ae5 6ae7 6aec 6af4 6af9 6afb',
    'g0/cover8': '15f 161 163 3c5 3cff 3d4 3dc 3e1',
    'g0/interior8': '3d8c 3d94 3da4 3dac 3df4 3dfc 3e04 3e09',
    'g0/flags64': '15f5f:0 15f7:0 15f9:0 15ff:0 1601:0 1603:0 161d:0 161f:0 1621:0 1627:0 1629:0 162b:0 3c4b4:0 3c4d:0 3c53:0 3c55:0 3cfe4:0 3cffc:0 3d01:0 3d07:0 3d09:0 3d0b:0 3d75:0 3d9:0 3db:0 3dc1:0 3df:0 3e04:1 3e0c:0 3e11:0 3e121:0 3e1b:0 3e1d:0 3e1e1:0',
    'g1/cover8': '915 917 934 93c 944 94c 969f 96b',
    'g1/interior8': '9374 937c 939c 93dc 945c 9484 948c 94f4',
    'g1/flags64': '9155:0 9157:0 9159:0 915f:0 9161:0 9163:0 917d4:0 930c:0 9311f:0 9313:0 9363:0 9365:0 936d:0 936f:0 9374:1 937c:1 9384:0 938f:0 9394:0 939c:1 93a4:0 93bc:0 93c4:0 93cf:0 93d1:0 93d7:0 93dc:1 93e4:1 93ec:0 93f1:0 93f7:0 93fc:1 941:0 9424:0 943c:0 9444:0 9449:0 944f:0 9451:0 9457:0 945c:1 9464:0 946c:0 947c:0 9484:1 948c:1 9491:0 9493:0 949b:0 949d:0 94e3:0 94e5:0 94ed:0 94ef:0 94f4:1 94fc:0 969f:0 96a1:0 96a7:0 96a9:0 96ab:0',
    'g2/cover8': '55d7 55d9 5662c 5677 567c 569 56ed 56f2ac',
    'g2/interior8': '567dc 5685 5687 5688c 568dc 568f 56904 5691c',
    'g2/flags64': '55d61:0 55d63:0 55d7d:0 55d7f:0 55d81:0 55d87:0 55d89:0 55d8b:0 5662c:0 56763:0 56777c:0 5677c:0 5679:0 567a2ac:0 567bc:0 567d:0 567f:0 5684:0 5689:0 568bf:0 568c4:0 568cf:0 568d4:0 568dc:1 568f:1 5691:0 5693:0 569a4:0 569ac:0 569b4:0 569cc:0 569d4:0 56ec4:0 56ecc:0 56ed4:0 56edab:0 56f2ac:0',
    'lookup_40/cover8': '89c4 89db5 89dd 89e62c 89e7c 89e9 89ea1 89ea24',
    'lookup_40/interior8': '89c23 89c2c 89c31 89c35 89c3c 89c41 89c47 89e83',
    'lookup_40/flags64': '89c054:0 89c05c:0 89c0d:0 89c0fc:0 89c14:0 89c19:0 89c1b:0 89c1dc:0 89c1f:0 89c3:0 89c44:0 89c49:0 89c4b:0 89c4f:0 89c5b:0 89c5d4:0 89c664:0 89c67c:0 89c69:0 89c6b:0 89c6d:0 89db5:0 89dc9c:0 89dcb:0 89dcd:0 89dcf:0 89dd1fc:0 89dd3:0 89dd5:0 89dd7:0 89dd84:0 89e62c:0 89e79:0 89e7d:0 89e7f:0 89e84:0 89e89:0 89e8f:0 89e904:0 89e9c:0 89ea04:0 89ea1c:0 89ea24:0',
    'lookup_64/cover8': '220d4 2214 223fc 22404 2241c 22424 226c 2272c',
    'lookup_64/interior8': '22134 2214c 22403 2241d 22694 226b 226c4 226cc',
    'lookup_64/flags64': '220d5:0 220d7:0 22115:0 221164:0 221215:0 22123:0 22125:1 22127:0 2212c:0 22134:1 2213c:0 22144:0 2214c:1 22154:0 22159:0 2215b:0 2215d:0 2216a7c:0 2216ac:0 223fd:0 223ff:0 22404:0 2241c:0 22421:0 224275:0 22685:0 2268d:0 2268f:0 22694:1 2269c:0 226b:1 226d:0 226e7:0 226ec:0 226f2b:0 22729:0 2272b:0',
    'lookup_80/cover8': '47d7 47dc 47e000a81fc 4871 4873c 4875 4877 4879',
    'lookup_80/interior8': '47d87 47d89 47df5 48759 4875d 4875f 48764 4877d',
    'lookup_80/flags64': '47d763:0 47d77d:0 47d7f:0 47d9:0 47da1c:0 47da3:0 47da5:0 47db9:0 47dbb4:0 47dbd:0 47dbf:0 47dc1:0 47dc20aac:0 47dc44:0 47dc6b:0 47de5:0 47de7:0 47dec:0 47df4:0 47dfc:0 47e000a81fc:0 4870b:0 4870d:0 48714:0 487184:0 4871a4:0 4873875:0 4873dc:0 4873f:0 48744:0 487495:0 4874bc:0 4874f:0 48751:0 48753c:0 48755:0 48757:0 4875c:0 4877:0 487804:0 48781f:0 48782a083:0 4879e4:0',
    'lookup_96/cover8': '3539 353f 3544 3549 354f 3551 355c 356b',
    'lookup_96/interior8': '3540c 35414 3543c 3545 35464 3546c 354f4 354fc',
    'lookup_96/flags64': '35380c:0 35387:0 3538c:0 353f4:0 353f9:1 353fb:0 353fc1:0 353ff:0 3541:0 35421:0 35423:1 35425:0 35426b:0 3542fc:0 35431:0 35433c:0 35435:0 35437:1 3543c:1 3545:1 3547:0 35480c:0 35485c:0 35487:0 3548c:0 354924:0 35492c:0 354e3:0 354e5:0 354e7:0 354e8ab:0 354ed:0 354ef:0 354f4:1 354fc:1 35504:0 3551d:0 355ac:0 355b1:0 355b3:0 355b5:0 355cac:0 356a0aac:0 356a7:0 356a9:0 356ab:0',
    'geotag_8/cover8': '843 85cd 85ce001 85d4 8663 8664ac 867c 869',
    'geotag_8/interior8': '8427 842c 85d3 85d5 867d 867f 8684 869b',
    'geotag_8/flags64': '8420c:0 84214:0 8423f:0 8425:0 8427:1 842c:1 84301:0 84303:0 8431d:0 8431f:0 84321:0 84327:0 84329:0 8432b:0 843ab:0 843acc:0 85cd4:0 85cdc:0 85ce001:0 85d05:0 85d0d:0 85d0f:0 85d14:1 85d1c:0 85d3:1 85d5:1 85d7:0 8662c:0 86634:0 8664ac:0 86785:0 86787:0 8678c:1 86794:1 8679c:0 867a3:0 867a5:0 867af:0 867b4:0 867bc:1 867d:1 867f:1 8684:1 86884:0 8688c:0 868f4:0 868fc:0 86904:0 8690c:0 86975:0 86995:0 86997:0 86999:0 8699f:0 869b:1 869d:1 869e4:0 869ec:0',
    'geotag_128/cover8': '1d0c 1d7 1dc 1e1 b5f b61 b63 b7d4',
    'geotag_128/interior8': '1d91 1d93 1d9b 1df4 1df9 b61b b61d b621',
    'geotag_128/flags64': '1d09c:0 1d0b:0 1d0cb:0 1d735:0 1d75:0 1d77:0 1d79:0 1d7a1c:0 1d7c3:0 1d7f:0 1d9:0 1da4:0 1daf81:0 1db074:0 1dbc:0 1dc4:0 1dc9:0 1dcf:0 1dd95:0 1ddd:0 1ddf:0 1df:0 1e04:0 1e09:0 1e0b:0 1e0f:0 1e101fdc:0 1e1b4:0 1e1d:0 b5e2c:0 b5fc:0 b604:0 b609:0 b60c4:0 b60f:0 b614:0 b61c:0 b624:0 b62c:0 b631:0 b633:0 b639:0 b63b:0 b63d:0 b7d5:0 b7d6c:0',
    'geotag_512/cover8': '415 417 419 43 441 447 449 46ab',
    'geotag_512/interior8': '415c 4164 417c 422c 424c 43c 440c 4474',
    'geotag_512/flags64': '4141c:0 4143:0 4145:0 414f:0 4154:0 415c:1 417:0 4184:0 4189:0 418a04:0 418f:0 419b:0 419d:0 423:0 4244:0 424c:1 4254:0 4259:0 425b:0 42e2c:0 42f9:0 42fbc:0 42fd:0 42ff:1 431:0 433f:0 4341:0 437:0 43c:1 4404:0 440c:1 4411:0 4413:0 441aab:0 4463:0 4465:0 446d:0 446f:0 4474:1 447c:0 4481:1 4483:0 44844:0 4487:0 449d4:0 46ab:0',
    'geotag_1024/cover8': '704 70c 714 76d 76f 774 79c 7a4',
    'geotag_1024/interior8': '70ac 70b4 70c7 70cc 7734 774c 7754 7a01',
    'geotag_1024/flags64': '7059:0 705f:0 7061:0 7063:0 707c:0 70c:0 7104:0 7114:0 711c:0 713:0 714a7c:0 76d:0 76e4:0 76e84:0 774:0 7984:0 798c:0 7994:0 799a7:0 79bf:0 79c4:0 79d4:0 79dc:0 79f:0 7a1:0 7a24:0 7a2c:0 7a31:0 7a3c:0 7a44:0 7a65:0 7a6c:0 7a74:0 7a7c:0',
    'square_5_15/terms': '10d 10f 111 113 16d 173',
    'square_m35_135/terms': '2ab 2ad 2b2b 6a5 6a7 6a9 6ab 6ad 6af',
    'g0/terms': '15f 161 163 3c5 3cff 3d1 3d75 3d9 3db 3dc1 3df 3e1',
    'g1/terms': '915 917 931 937 939 93b 93d 93f 941 943 945 947 949 94f 969f 96b',
    'g2/terms': '55d7 55d9 567 569 56ed 56f2a9 56f2ab 56f2ad',
    'lookup_40/terms': '89d 89e63 89e79 89e7d 89e7f 89e9 89ea1 89ea3',
    'lookup_64/terms': '221 223fd 223ff 2241 22421 224275 227',
    'lookup_80/terms': '47d 47e000b 4871 4873 4875 4877 4879',
    'lookup_96/terms': '3539 353f 355 356a0ab 356a7 356a9 356ab',
    'geotag_8/terms': '843 85d 867 869',
    'geotag_128/terms': '1d1 1d7 1d9 1db 1dd 1df 1e1 b5f b61 b63 b7d',
    'geotag_512/terms': '415 417 419 423 425 42f 431 433f 4341 437 439 43b 43d 43f 441 447 449 46ab',
    'geotag_1024/terms': '705 707 709 70b 70d 70f 711 713 714a7 76d 76f 771 773 775 777 799 79bf 79d 79f 7a1 7a3 7a5 7a7',
    'covering_rows': 'square_5_15=10d:0 10f:0 111:0 113:0 16cc:0 16d4:0 172c:0 1734:0 square_m35_135=2aac:0 2ab4:0 2acc:0 2ad4:0 2b2b:0 6a5:0 6a7:0 6ac:0 g0=15f:0 161:0 163:0 3c5:0 3cff:0 3d4:0 3dc:0 3e1:0 g1=915:0 917:0 934:0 93c:0 944:0 94c:0 969f:0 96b:0 g2=55d7:0 55d9:0 5662c:0 5677:0 567c:0 569:0 56ed:0 56f2ac:0 lookup_40=89c4:0 89db5:0 89dd:0 89e62c:0 89e7c:0 89e9:0 89ea1:0 89ea24:0 lookup_64=220d4:0 2214:0 223fc:0 22404:0 2241c:0 22424:0 226c:0 2272c:0 lookup_80=47d7:0 47dc:0 47e000a81fc:0 4871:0 4873c:0 4875:0 4877:0 4879:0 lookup_96=3539:0 353f:0 3544:0 3549:0 354f:0 3551:0 355c:0 356b:0 geotag_8=843:0 85cd:0 85ce001:0 85d4:0 8663:0 8664ac:0 867c:0 869:0 geotag_128=1d0c:0 1d7:0 1dc:0 1e1:0 b5f:0 b61:0 b63:0 b7d4:0 geotag_512=415:0 417:0 419:0 43:0 441:0 447:0 449:0 46ab:0 geotag_1024=704:0 70c:0 714:0 76d:0 76f:0 774:0 79c:0 7a4:0',
}


CASES = cases()


@pytest.mark.parametrize("name,thunk", CASES, ids=[n for n, _ in CASES])
def test_covering_matches_golden(name, thunk):
    assert thunk() == GOLDEN[name]


#: calls per batched cell-test call on a one-loop polygon, whatever the
#: vertex and cell counts: predicates.sign_batch runs 4 times for the cell
#: corners' crossing parity and 4 for the loop edges x cell edges pass;
#: cells_contain_points runs once for the loop vertices x cells. A loop
#: per loop vertex, per cell or per cell edge multiplies them.
PASSES_PER_SCORING = {"sign_batch": 8, "cells_contain_points": 1}


@pytest.mark.parametrize("stride", [16, 1], ids=["64_vertices", "1024_vertices"])
@pytest.mark.parametrize("interior", [False, True], ids=["covering", "interior"])
def test_passes_per_expansion_do_not_grow_with_vertices(monkeypatch, stride, interior):
    big = star_polygon(7, 1024, (-3.6, -158.4), 12.0, False)
    poly = rg.Polygon([rg.Loop(big.loops[0].vertices[::stride])])
    calls = dict.fromkeys(PASSES_PER_SCORING, 0)
    for module, name in ((predicates, "sign_batch"), (cell, "cells_contain_points")):
        def counted(*args, _real=getattr(module, name), _name=name):
            calls[_name] += 1
            return _real(*args)

        monkeypatch.setattr(module, name, counted)

    scorings = [0]
    inside = dict.fromkeys(PASSES_PER_SCORING, 0)
    real_tests = rg.region_cell_tests

    def counted_tests(region):
        tests, cap = real_tests(region)

        def scored(ids):
            before = dict(calls)
            out = tests(ids)
            scorings[0] += 1
            for name in inside:
                inside[name] += calls[name] - before[name]
            return out

        return scored, cap

    monkeypatch.setattr(rg, "region_cell_tests", counted_tests)
    coverer = cv.RegionCoverer(max_cells=8)
    (coverer.get_interior_covering if interior else coverer.get_covering)(poly)
    assert scorings[0] >= 10  # the candidates were expanded, 4 children a call
    for name, per in PASSES_PER_SCORING.items():
        assert inside[name] <= per * scorings[0], (name, inside[name], scorings[0])


if __name__ == "__main__":
    print("GOLDEN: dict[str, str] = {")
    for name, thunk in CASES:
        print(f"    {name!r}: {thunk()!r},")
    print("}")
