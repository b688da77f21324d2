"""Seeded input generators for the benchmark, with self-checks.

Every generator draws from a ``numpy.random.Generator`` made from the run's
seed, so the same seed gives the same inputs. The self-checks raise
``GeneratorError``; the benchmark fails the run on one instead of timing
inputs that would measure a defect of the generator:

* a clockwise polygon loop means its complement to the engine (a probe saw
  256k hits from 32k points and 6x slower calls);
* a vocabulary word with digits or other non-letters collapses documents
  into one shingle set in ``dedup.normalized_words`` (which keeps only
  ``[a-z ]``), so every document lands in one near-duplicate component.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

#: the quality filter's stopword list (operators/textstats.STOPWORDS); the
#: generator mixes these in so most documents pass the language rule
STOPWORDS = ("a", "and", "by", "for", "in", "of", "on", "or", "the", "to", "with")
PUNCT = (",", ".", ";", "!", "?")
SOURCES = ("web", "books", "news", "wiki")

VOCAB_SIZE = 60_000
ZIPF_EXPONENT = 1.05


class GeneratorError(ValueError):
    """A generated input violates a property the workload relies on."""


# -- geometry -----------------------------------------------------------------

def latlng_deg_to_xyz(lat_deg, lng_deg) -> np.ndarray:
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lng = np.radians(np.asarray(lng_deg, dtype=np.float64))
    cl = np.cos(lat)
    return np.stack([cl * np.cos(lng), cl * np.sin(lng), np.sin(lat)], axis=-1)


def _xyz_to_latlng_deg(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    lat = np.degrees(np.arctan2(v[:, 2], np.hypot(v[:, 0], v[:, 1])))
    lng = np.degrees(np.arctan2(v[:, 1], v[:, 0]))
    return lat, lng


def tangent_frame(lat_deg: float, lng_deg: float) -> tuple[np.ndarray, ...]:
    """(center, east, north) unit vectors; east x north = center."""
    lat, lng = np.radians(lat_deg), np.radians(lng_deg)
    c = latlng_deg_to_xyz(lat_deg, lng_deg)
    e = np.array([-np.sin(lng), np.cos(lng), 0.0])
    n = np.array([-np.sin(lat) * np.cos(lng), -np.sin(lat) * np.sin(lng), np.cos(lat)])
    return c, e, n


@dataclass(frozen=True)
class GenPolygon:
    """One single-loop polygon. ``lat``/``lng`` are the vertex degrees every
    consumer starts from; ``plane`` is the gnomonic projection of the
    vertices about ``center``, where geodesic edges are straight segments,
    so a planar crossing test is an exact, engine-independent oracle."""

    pid: str
    lat: np.ndarray
    lng: np.ndarray
    center: np.ndarray
    east: np.ndarray
    north: np.ndarray
    plane: np.ndarray

    @property
    def n_vertices(self) -> int:
        return len(self.lat)

    @property
    def xyz(self) -> np.ndarray:
        return latlng_deg_to_xyz(self.lat, self.lng)

    def text(self) -> str:
        """S2TextFormat loop ('lat:lng, ...'), repr precision so it parses
        back to the same doubles."""
        return ", ".join(
            f"{float(a)!r}:{float(b)!r}" for a, b in zip(self.lat, self.lng)
        )


def project(poly_center, east, north, xyz: np.ndarray):
    """Gnomonic coordinates of ``xyz`` about the center; points on the far
    hemisphere get ``front=False``."""
    d = xyz @ poly_center
    front = d > 1e-9
    safe = np.where(front, d, 1.0)
    return (xyz @ east) / safe, (xyz @ north) / safe, front


def make_polygon(
    rng: np.random.Generator,
    pid: str,
    n_vertices: int,
    center_deg: tuple[float, float],
    radius_deg: float,
    convex: bool,
) -> GenPolygon:
    """Star-shaped loop about the center, vertices in counter-clockwise
    order. Convex loops sit on a circle; concave ones jitter the radius."""
    c, e, n = tangent_frame(*center_deg)
    k = np.arange(n_vertices)
    theta = 2.0 * np.pi * (k + 0.8 * rng.random(n_vertices)) / n_vertices
    rho = np.full(n_vertices, np.radians(radius_deg))
    if not convex:
        rho *= 1.0 - 0.6 * rng.random(n_vertices)
    t = np.tan(rho)
    v = c[None, :] + (t * np.cos(theta))[:, None] * e + (t * np.sin(theta))[:, None] * n
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    lat, lng = _xyz_to_latlng_deg(v)
    xyz = latlng_deg_to_xyz(lat, lng)
    px, py, _ = project(c, e, n, xyz)
    poly = GenPolygon(pid, lat, lng, c, e, n, np.stack([px, py], axis=1))
    check_polygon(poly)
    return poly


def check_polygon(poly: GenPolygon) -> None:
    """The loop lies in the center's hemisphere and runs counter-clockwise
    (positive shoelace area in the gnomonic plane)."""
    _, _, front = project(poly.center, poly.east, poly.north, poly.xyz)
    if not front.all():
        raise GeneratorError(f"polygon {poly.pid}: vertex beyond the hemisphere")
    x, y = poly.plane[:, 0], poly.plane[:, 1]
    area2 = float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))
    if not area2 > 0:
        raise GeneratorError(f"polygon {poly.pid}: loop is clockwise")
    if poly.n_vertices < 3:
        raise GeneratorError(f"polygon {poly.pid}: fewer than 3 vertices")


def polygons_contain(poly: GenPolygon, xyz: np.ndarray) -> np.ndarray:
    """Even-odd crossing test in the gnomonic plane (bbox-prefiltered)."""
    px, py, front = project(poly.center, poly.east, poly.north, xyz)
    x, y = poly.plane[:, 0], poly.plane[:, 1]
    cand = front & (px >= x.min()) & (px <= x.max()) & (py >= y.min()) & (py <= y.max())
    idx = np.flatnonzero(cand)
    qx, qy = px[idx], py[idx]
    inside = np.zeros(len(idx), dtype=bool)
    x2, y2 = np.roll(x, -1), np.roll(y, -1)
    for x1_, y1_, x2_, y2_ in zip(x, y, x2, y2):
        straddle = (y1_ > qy) != (y2_ > qy)
        if not straddle.any():
            continue
        xc = x1_ + (qy - y1_) * (x2_ - x1_) / (y2_ - y1_ if y2_ != y1_ else 1.0)
        inside ^= straddle & (qx < xc)
    out = np.zeros(len(xyz), dtype=bool)
    out[idx] = inside
    return out


def check_lookup_polygons(polys, min_edges: int) -> None:
    """geo_lookup needs more edges than the closest-edge brute threshold
    so every call takes the ring-search path."""
    n = sum(p.n_vertices for p in polys)
    if n <= min_edges:
        raise GeneratorError(f"{n} edges, need more than {min_edges}")


# -- points -------------------------------------------------------------------

def uniform_latlng(rng: np.random.Generator, n: int, max_lat: float = 80.0):
    """Uniform over the sphere's area with |lat| < max_lat."""
    s = np.sin(np.radians(max_lat))
    lat = np.degrees(np.arcsin(rng.uniform(-s, s, n)))
    lng = rng.uniform(-180.0, 180.0, n)
    return lat, lng


@dataclass(frozen=True)
class Metros:
    lat: np.ndarray
    lng: np.ndarray
    sigma_deg: np.ndarray
    weight: np.ndarray


def make_metros(rng: np.random.Generator, n: int = 20) -> Metros:
    lat, lng = uniform_latlng(rng, n, 60.0)
    sigma = rng.uniform(0.3, 2.0, n)
    w = rng.pareto(1.5, n) + 1.0
    return Metros(lat, lng, sigma, w / w.sum())


def clustered_latlng(
    rng: np.random.Generator, n: int, metros: Metros, metro_frac: float = 0.6
):
    """``metro_frac`` of the points in Gaussian metros, the rest uniform."""
    n_metro = int(round(n * metro_frac))
    m = rng.choice(len(metros.weight), n_metro, p=metros.weight)
    lat_m = metros.lat[m] + rng.normal(0.0, 1.0, n_metro) * metros.sigma_deg[m]
    lng_m = metros.lng[m] + rng.normal(0.0, 1.0, n_metro) * metros.sigma_deg[m]
    lat_m = np.clip(lat_m, -79.9, 79.9)
    lng_m = (lng_m + 180.0) % 360.0 - 180.0
    lat_u, lng_u = uniform_latlng(rng, n - n_metro)
    lat = np.concatenate([lat_m, lat_u])
    lng = np.concatenate([lng_m, lng_u])
    perm = rng.permutation(n)
    return lat[perm], lng[perm]


def distinct_ids(rng: np.random.Generator, n: int, high: int) -> np.ndarray:
    """n distinct int64 ids in [0, high), in random order."""
    ids = np.unique(rng.integers(0, high, int(n * 1.05) + 16))
    while len(ids) < n:
        ids = np.unique(np.concatenate([ids, rng.integers(0, high, n)]))
    return rng.permutation(ids)[:n].astype(np.int64)


# -- text ---------------------------------------------------------------------

def make_vocab(rng: np.random.Generator, n: int = VOCAB_SIZE,
               min_len: int = 3, max_len: int = 10) -> np.ndarray:
    """n distinct lowercase alphabetic words in random rank order."""
    m = int(n * 1.3)
    lens = rng.integers(min_len, max_len + 1, m)
    letters = rng.integers(ord("a"), ord("z") + 1, (m, max_len), dtype=np.uint8)
    letters[np.arange(max_len)[None, :] >= lens[:, None]] = 0
    words = np.unique(letters.view(f"S{max_len}").ravel())
    words = words[~np.isin(words, np.array(STOPWORDS, dtype="S"))]
    vocab = rng.permutation(words)[:n].astype(str)
    check_vocab(vocab)
    return vocab


def check_vocab(vocab: np.ndarray, min_size: int = 50_000) -> None:
    if len(vocab) < min_size:
        raise GeneratorError(f"vocabulary of {len(vocab)} words, need {min_size}")
    joined = "".join(vocab.tolist())
    if not (joined.isascii() and joined.isalpha() and joined.islower()):
        raise GeneratorError("vocabulary word outside [a-z]")
    if len(np.unique(vocab)) != len(vocab):
        raise GeneratorError("vocabulary has repeated words")


class TextModel:
    """Zipf-distributed words over a fixed vocabulary, with stopwords and
    punctuation mixed in at rates that keep most documents above the
    quality filter's thresholds."""

    def __init__(self, vocab: np.ndarray, exponent: float = ZIPF_EXPONENT,
                 stop_rate: float = 0.18, punct_rate: float = 0.05):
        self.vocab = vocab
        p = np.arange(1, len(vocab) + 1, dtype=np.float64) ** -exponent
        self.cdf = np.cumsum(p / p.sum())
        self.stop_rate = stop_rate
        self.punct_rate = punct_rate

    def words(self, rng: np.random.Generator, n: int) -> np.ndarray:
        ranks = np.searchsorted(self.cdf, rng.random(n), side="right")
        w = self.vocab[np.minimum(ranks, len(self.vocab) - 1)].astype(object)
        stop = rng.random(n) < self.stop_rate
        w[stop] = np.array(STOPWORDS, dtype=object)[rng.integers(0, len(STOPWORDS), stop.sum())]
        punct = rng.random(n) < self.punct_rate
        w[punct] = w[punct] + np.array(PUNCT, dtype=object)[
            rng.integers(0, len(PUNCT), punct.sum())
        ]
        return w

    def texts(self, rng: np.random.Generator, n_docs: int,
              min_words: int, max_words: int) -> list[str]:
        counts = rng.integers(min_words, max_words + 1, n_docs)
        words = self.words(rng, int(counts.sum()))
        ends = np.cumsum(counts)
        return [" ".join(words[e - c:e]) for c, e in zip(counts, ends)]

    def edit(self, rng: np.random.Generator, text: str, rate: float) -> str:
        """Replace about ``rate`` of the words with fresh draws."""
        words = np.array(text.split(" "), dtype=object)
        hit = rng.random(len(words)) < rate
        words[hit] = self.words(rng, int(hit.sum()))
        return " ".join(words)


@dataclass
class DocBatch:
    doc_id: np.ndarray
    text: list[str]
    source: np.ndarray

    def frame(self):
        import pandas as pd

        return pd.DataFrame({
            "doc_id": self.doc_id,
            "text": self.text,
            "lang": "en",
            "source": self.source,
            "n_chars": np.fromiter((len(t) for t in self.text), np.int64, len(self.text)),
        })


#: doc ids stay below 2^38 so the engine's geo key (doc_id * 31 + offset)
#: times its hash multipliers fits in a signed 64-bit long
DOC_ID_HIGH = 1 << 38


def make_docs(rng: np.random.Generator, model: TextModel, n_docs: int,
              min_words: int = 40, max_words: int = 90) -> DocBatch:
    ids = distinct_ids(rng, n_docs, DOC_ID_HIGH)
    text = model.texts(rng, n_docs, min_words, max_words)
    source = np.array(SOURCES)[rng.integers(0, len(SOURCES), n_docs)]
    return DocBatch(ids, text, source)


@dataclass
class DedupBatch(DocBatch):
    #: doc id -> id of the document it was copied from (planted copies only)
    near_of: dict
    exact_of: dict


def make_dedup_docs(rng: np.random.Generator, model: TextModel, n_docs: int,
                    near_frac: float = 0.15, exact_frac: float = 0.03) -> DedupBatch:
    """Documents with planted near-duplicate clusters of heavy-tailed size
    (edited copies of one original) and exact copies (same text up to
    case, so ``md5(lower(text))`` groups them)."""
    n_near = int(n_docs * near_frac)
    n_exact = int(n_docs * exact_frac)
    n_orig = n_docs - n_near - n_exact
    base = make_docs(rng, model, n_orig)
    sizes = []
    while sum(sizes) < n_near:
        sizes.append(int(min(rng.zipf(1.8), 200)))
    sizes[-1] -= sum(sizes) - n_near
    sizes = [s for s in sizes if s > 0]
    origins = rng.choice(n_orig, len(sizes) + n_exact, replace=False)
    new_ids = distinct_ids(rng, n_near + n_exact + n_orig, DOC_ID_HIGH)
    new_ids = new_ids[~np.isin(new_ids, base.doc_id)][: n_near + n_exact]
    texts, src, near_of, exact_of = [], [], {}, {}
    j = 0
    for s, o in zip(sizes, origins):
        for _ in range(s):
            texts.append(model.edit(rng, base.text[o], 0.04))
            src.append(base.source[o])
            near_of[int(new_ids[j])] = int(base.doc_id[o])
            j += 1
    for o in origins[len(sizes):]:
        t = base.text[o]
        texts.append(t[:1].upper() + t[1:])
        src.append(base.source[o])
        exact_of[int(new_ids[j])] = int(base.doc_id[o])
        j += 1
    ids = np.concatenate([base.doc_id, new_ids[:j]])
    perm = rng.permutation(len(ids))
    all_text = base.text + texts
    return DedupBatch(
        ids[perm],
        [all_text[i] for i in perm],
        np.concatenate([base.source, np.array(src, dtype=base.source.dtype)])[perm],
        near_of,
        exact_of,
    )
