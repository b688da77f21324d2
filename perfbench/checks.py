"""Independent output checks: each recomputes a workload's answer in numpy
or plain Python, without the package, and returns a list of mismatches
(empty when the output is right). They run outside the timed region."""

from __future__ import annotations

import hashlib
import re
from collections import Counter, defaultdict

import numpy as np

from gen import STOPWORDS, latlng_deg_to_xyz, polygons_contain

# -- geotag -------------------------------------------------------------------

#: the documented span spec of sources.docs: 4 + doc_id % 5 spans, the one
#: at offset i is an image when i % 3 == 2; an image's point comes from the
#: integer geo key doc_id * 31 + offset
def expected_geotags(doc_ids: np.ndarray):
    """(span_id, lat, lng) of every image span of the documents."""
    ids = np.asarray(doc_ids, dtype=np.int64)
    n_spans = 4 + ids % 5
    offs = np.arange(8)
    mask = (offs[None, :] < n_spans[:, None]) & (offs[None, :] % 3 == 2)
    key = (ids[:, None] * 31 + offs[None, :])[mask]
    lat = (key * 7919 % 16000) / 100.0 - 80.0
    lng = (key * 104729 % 36000) / 100.0 - 180.0
    return key, lat, lng


def membership(polys, xyz: np.ndarray) -> np.ndarray:
    """(n_points, n_polygons) boolean containment."""
    return np.stack([polygons_contain(p, xyz) for p in polys], axis=1)


def check_geotag(rows, rows_out: int, doc_ids, polys, tiles_of) -> list[str]:
    """``rows``: the (tile, polygon_id or None, n) rollup; ``rows_out``: the
    staged assignment table's row count, one per (span, polygon) hit plus
    one per span in no polygon. ``tiles_of(lat, lng)`` gives the tile ids
    the rollup is keyed by."""
    key, lat, lng = expected_geotags(doc_ids)
    inside = membership(polys, latlng_deg_to_xyz(lat, lng))
    outside = ~inside.any(axis=1)
    tiles = tiles_of(lat, lng)
    want: Counter = Counter()
    for j, p in enumerate(polys):
        for t, c in zip(*np.unique(tiles[inside[:, j]], return_counts=True)):
            want[(int(t), p.pid)] = int(c)
    for t, c in zip(*np.unique(tiles[outside], return_counts=True)):
        want[(int(t), None)] = int(c)
    got: Counter = Counter()
    for t, pid, n in rows:
        got[(int(t), pid)] += int(n)
    errs = []
    if got != want:
        bad = [k for k in set(got) | set(want) if got.get(k) != want.get(k)]
        errs.append(f"{len(bad)} (tile, polygon) counts differ, e.g. {bad[:3]}")
    n_spans = int(inside.sum() + outside.sum())
    if rows_out != n_spans:
        errs.append(f"staged {rows_out} rows, spec gives {n_spans}")
    return errs


# -- geo_lookup -----------------------------------------------------------------

def check_pip_counts(rows, polys, xyz: np.ndarray) -> list[str]:
    got = {pid: int(n) for pid, n in rows}
    inside = membership(polys, xyz)
    want = {p.pid: int(inside[:, j].sum()) for j, p in enumerate(polys) if inside[:, j].any()}
    return [] if got == want else [f"pip counts {got} != crossing test {want}"]


def chord2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    d = a - b
    return np.minimum((d * d).sum(axis=-1), 4.0)


def brute_knn(qxyz: np.ndarray, ixyz: np.ndarray, ids: np.ndarray, k: int,
              chunk: int = 64, pool: int = 32):
    """Exact k nearest by (chord2, id) per query: dot-product preselection
    of ``pool`` candidates, then exact chord2 and the tie order."""
    out = []
    for s in range(0, len(qxyz), chunk):
        q = qxyz[s:s + chunk]
        dots = q @ ixyz.T
        cand = np.argpartition(-dots, pool, axis=1)[:, :pool]
        for r in range(len(q)):
            c = cand[r]
            d2 = chord2(q[r][None, :], ixyz[c])
            order = np.lexsort((ids[c], d2))[:k]
            out.append((ids[c][order], d2[order]))
    return out


def check_knn(rows, qids, qxyz, ixyz, ids, k: int, tol: float = 1e-12) -> list[str]:
    """``rows``: (query_id, rank, neighbor_id, chord2). Neighbour sets must
    equal the brute force; a differing member is allowed only at a tie
    within ``tol`` of the k-th distance."""
    got = defaultdict(list)
    for qid, rank, nid, d2 in rows:
        got[qid].append((int(rank), int(nid), float(d2)))
    errs = []
    for qid, (want_ids, want_d2) in zip(qids.tolist(), brute_knn(qxyz, ixyz, ids, k)):
        g = sorted(got.get(qid, []))
        if [r for r, _, _ in g] != list(range(1, len(want_ids) + 1)):
            errs.append(f"query {qid}: ranks {[r for r, _, _ in g]}")
            continue
        gs, ws = {n for _, n, _ in g}, set(want_ids.tolist())
        if gs != ws:
            kth = float(want_d2[-1])
            extra = [d for _, n, d in g if n not in ws]
            if any(abs(d - kth) > tol for d in extra):
                errs.append(f"query {qid}: neighbours {sorted(gs ^ ws)[:4]} differ")
    missing = set(got) - set(qids.tolist())
    if missing:
        errs.append(f"{len(missing)} unknown query ids")
    return errs[:5]


def point_edge_chord2(p: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Min chord2 from points p (n,3) to geodesic edges a->b (m,3); (n,m)."""
    n = np.cross(a, b)
    n /= np.linalg.norm(n, axis=1, keepdims=True)
    s = p @ n.T  # sine of the angle to each great circle
    q = p[:, None, :] - s[:, :, None] * n[None, :, :]
    # q lies on the minor arc a->b iff (a x q).n >= 0 and (q x b).n >= 0
    inside = (np.einsum("mk,nmk->nm", np.cross(n, a), q) >= 0) & (
        np.einsum("mk,nmk->nm", np.cross(b, n), q) >= 0
    )
    ang = np.arcsin(np.clip(np.abs(s), 0.0, 1.0))
    d_line = (2.0 * np.sin(ang / 2.0)) ** 2
    d_end = np.minimum(chord2(p[:, None, :], a[None]), chord2(p[:, None, :], b[None]))
    return np.where(inside, np.minimum(d_line, d_end), d_end)


def check_closest_edges(rows, qids, qxyz, polys, rtol: float = 1e-9) -> list[str]:
    """``rows``: (query_id, rank, shape_id, edge_id, chord2) for k=1. The
    result must name the brute-force edge or one at an equal chord2."""
    ea, eb, keys = [], [], []
    for p in polys:
        v = p.xyz
        ea.append(v)
        eb.append(np.roll(v, -1, axis=0))
        keys.extend((p.pid, e) for e in range(p.n_vertices))
    a, b = np.concatenate(ea), np.concatenate(eb)
    d = point_edge_chord2(qxyz, a, b)
    best = d.min(axis=1)
    index = {k: i for i, k in enumerate(keys)}
    got = {}
    for qid, rank, sid, eid, d2 in rows:
        if rank == 1:
            got[qid] = (sid, int(eid), float(d2))
    errs = []
    for r, qid in enumerate(qids.tolist()):
        if qid not in got:
            errs.append(f"query {qid}: no closest edge")
            continue
        sid, eid, d2 = got[qid]
        i = index.get((sid, eid))
        ok = i is not None and abs(d[r, i] - best[r]) <= rtol * max(best[r], 1e-300)
        if not ok or abs(d2 - best[r]) > rtol * max(best[r], 1e-300) + 1e-15:
            errs.append(f"query {qid}: edge {(sid, eid)} at {d2}, brute {best[r]}")
    if len(got) != len(qids):
        errs.append(f"{len(got)} answered queries, sent {len(qids)}")
    return errs[:5]


# -- dedup ----------------------------------------------------------------------

_NONALPHA = re.compile(r"[^a-z ]")
_PUNCT = re.compile(r"[^a-zA-Z0-9\s]")
_STOP = frozenset(STOPWORDS)


def quality_keep(text: str, min_quality: int = 50) -> bool:
    """The documented rule of textstats.quality_filter (defaults)."""
    toks = text.split()
    ntok = len(toks)
    if ntok < 5 or ntok > 100_000 or max(len(t) for t in toks) > 40:
        return False
    words = _NONALPHA.sub(" ", text.lower()).split()
    stop = sum(w in _STOP for w in words)
    ln = len(text)
    score = (
        min(ln // 20, 40)
        + max(min(40 - (100 * len(_PUNCT.findall(text))) // max(ln, 1), 40), 0)
        + min((200 * stop) // max(ntok, 1), 20)
    )
    if score < min_quality:
        return False
    return len(words) > 0 and 20 * stop >= len(words)


def md5_groups(ids, texts) -> dict[int, int]:
    """doc id -> canonical id (min id of its md5(lower(text)) group)."""
    groups: dict[str, list[int]] = defaultdict(list)
    for i, t in zip(ids, texts):
        groups[hashlib.md5(t.lower().encode()).hexdigest()].append(int(i))
    return {i: min(g) for g in groups.values() for i in g}


def expected_funnel(batch) -> dict:
    kept = [(int(i), t) for i, t in zip(batch.doc_id, batch.text) if quality_keep(t)]
    canon = md5_groups([i for i, _ in kept], [t for _, t in kept])
    return {
        "raw": len(batch.doc_id),
        "quality_kept": len(kept),
        "exact_canonical": sum(1 for i, c in canon.items() if i == c),
        "canonical": canon,
    }


def check_corpus(manifest, funnel: dict, batch, total: int) -> list[str]:
    """``manifest``: (doc_id, component) rows; ``funnel``: stage -> n."""
    want = expected_funnel(batch)
    errs = [
        f"funnel {s}: {funnel.get(s)} != {want[s]}"
        for s in ("raw", "quality_kept", "exact_canonical")
        if funnel.get(s) != want[s]
    ]
    ids = [int(d) for d, _ in manifest]
    if len(set(ids)) != len(ids):
        errs.append("a document sits in more than one manifest row")
    canon = want["canonical"]
    if any(canon.get(i) != i for i in ids):
        errs.append("manifest holds a document that is not its exact group's canonical")
    comps = [int(c) for _, c in manifest]
    if len(set(comps)) != len(comps):
        errs.append("two manifest documents share a near-duplicate component")
    if any(c > i for i, c in zip(ids, comps)):
        errs.append("a component label is above its member's id")
    n_near = funnel.get("near_dup_kept", -1)
    if not 0 < n_near <= want["exact_canonical"]:
        errs.append(f"near_dup_kept {n_near} outside (0, exact_canonical]")
    if funnel.get("mix_sampled") != min(total, n_near) or len(ids) != funnel.get("mix_sampled"):
        errs.append(
            f"mix_sampled {funnel.get('mix_sampled')} / manifest {len(ids)} "
            f"!= min(total, near_dup_kept) {min(total, n_near)}"
        )
    return errs


def check_exact_groups(rows, batch) -> list[str]:
    """``rows``: (id, group_size, canonical_id) from dedup.exact_duplicates
    over the whole batch."""
    canon = md5_groups(batch.doc_id, batch.text)
    size = Counter(canon.values())
    got = {int(i): (int(g), int(c)) for i, g, c in rows}
    want = {i: (size[c], c) for i, c in canon.items()}
    if got == want:
        return []
    bad = [i for i in set(got) | set(want) if got.get(i) != want.get(i)]
    return [f"{len(bad)} exact-dup assignments differ, e.g. {bad[:3]}"]


def near_dup_stats(rows, batch) -> tuple[list[str], dict]:
    """``rows``: (id, component) from dedup.near_dup_clusters over the
    whole batch. Checks one component per id and that exact copies share
    their original's component; returns the cluster quality figures."""
    comp = {}
    errs = []
    for i, c in rows:
        if int(i) in comp:
            errs.append(f"id {i} in two components")
        comp[int(i)] = int(c)
    if set(comp) != set(int(i) for i in batch.doc_id):
        errs.append(f"{len(comp)} ids clustered, batch has {len(batch.doc_id)}")
    for copy, orig in batch.exact_of.items():
        if comp.get(copy) != comp.get(orig):
            errs.append(f"exact copy {copy} not with its original {orig}")
            break
    root = {i: batch.near_of.get(i, batch.exact_of.get(i, i)) for i in comp}
    recall = np.mean([comp[c] == comp[o] for c, o in batch.near_of.items()]) if batch.near_of else 1.0
    roots = defaultdict(set)
    for i, c in comp.items():
        roots[c].add(root[i])
    sizes = Counter(comp.values())
    stats = {
        "largest_component": max(sizes.values()) if sizes else 0,
        "planted_recall": float(recall),
        "false_merges": sum(len(r) - 1 for r in roots.values()),
    }
    return errs, stats
