"""Seeded inputs for the benchmark workloads.

Everything a workload feeds the engine is generated here from the run's
seed, before any Spark session exists, so the engine only ever receives
the generated inputs. The same seed gives byte-identical inputs and
therefore the same :meth:`Inputs.digest`; a different seed gives a
different digest.

Four input kinds are made for every workload, sized per workload
(:data:`SIZES`): the kinds a workload's iterations read are sized for
steady timing, the others are small and serve only the traced layer
sweep, which calls every layer.

- ``pbf``: synthetic OSM fileblocks from the engine's own generator
  (``sources.synth.synth_fileblocks``: megacity skew, 4000-element
  blocks) with its expected-counts dict.
- ``polygons``: the three ``bench.py`` boxes plus seeded concave star
  rings with tens of vertices, one of them over a megacity hotspot so
  the exact refine has boundary work.
- ``queries``: uniform kNN query points over the synthetic region.
- ``corpus``: documents with planted near-duplicate groups and a 1%
  identical-template flood.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

from osmpbf_spark.sources.synth import HOTSPOTS, synth_fileblocks

B = 1_000_000_000                         # nanodegrees per degree
REGION_LAT0, REGION_LON0 = 40 * B, 5 * B  # synth region: lat 40-50, lon 5-15
REGION_SPAN = 10 * B
BLOCK_ELEMENTS = 4000
STAR_SPIKES = 18                          # 36 vertices per star ring
STAR_RADIUS = 55 * B // 100               # 0.55°

TEMPLATE_TEXT = ("shared template boiler plate body words repeated "
                 "across the flood group every time")
DOC_WORDS = 40
VOCAB_SIZE = 50_000


@dataclass(frozen=True)
class Sizes:
    nodes: int
    queries: int
    docs: int


SIZES = {
    "decode_pip": Sizes(nodes=250_000, queries=2_000, docs=4_000),
    "knn_join": Sizes(nodes=250_000, queries=25_000, docs=4_000),
}


@dataclass(frozen=True)
class Corpus:
    doc_ids: list[str]
    texts: list[str]
    groups: list[list[int]]   # planted near-duplicate groups (doc ids)
    flood: list[int]          # doc ids of the identical-template flood


@dataclass(frozen=True)
class Inputs:
    seed: int
    sizes: Sizes
    fileblocks: list[tuple[str, bytes]]
    expected: dict[str, int]
    polygons: list[tuple[str, list[tuple[int, int]]]]
    query_lat: np.ndarray
    query_lon: np.ndarray
    corpus: Corpus

    @property
    def elements(self) -> int:
        return (self.expected["node"] + self.expected["way"]
                + self.expected["relation"])

    def digest(self) -> str:
        """sha256 over every generated byte, in a fixed order."""
        h = hashlib.sha256()
        for blob_type, blob in self.fileblocks:
            h.update(blob_type.encode())
            h.update(len(blob).to_bytes(8, "little"))
            h.update(blob)
        for name, ring in self.polygons:
            h.update(name.encode())
            h.update(np.asarray(ring, dtype=np.int64).tobytes())
        h.update(self.query_lat.astype(np.int64).tobytes())
        h.update(self.query_lon.astype(np.int64).tobytes())
        for doc_id, text in zip(self.corpus.doc_ids, self.corpus.texts):
            h.update(f"{doc_id}\t{text}\n".encode())
        return h.hexdigest()


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _box(name, la0, lo0, la1, lo1):
    return (name, [(la0, lo0), (la1, lo0), (la1, lo1), (la0, lo1),
                   (la0, lo0)])


def _star(name, rng, clat, clon, radius, spikes):
    """Closed concave star ring: 2·spikes vertices alternating between
    ``radius`` and a seeded inner radius, with seeded angular jitter."""
    ring = []
    for v in range(2 * spikes):
        ang = np.pi * v / spikes + rng.uniform(-0.15, 0.15) * np.pi / spikes
        r = radius if v % 2 == 0 else radius * rng.uniform(0.35, 0.6)
        ring.append((int(clat + r * np.sin(ang)), int(clon + r * np.cos(ang))))
    ring.append(ring[0])
    return (name, ring)


def make_polygons(seed: int) -> list[tuple[str, list[tuple[int, int]]]]:
    """The three ``bench.py`` boxes plus four seeded star rings of
    ``STAR_SPIKES`` spikes: one hugging a megacity hotspot (dense
    boundary cells) and three of ``STAR_RADIUS`` placed uniformly inside
    the region. Radius and spike count are fixed, so the cover's size,
    and with it a cold cover build's cost, does not depend on the
    seed."""
    rng = _rng(seed, 1)
    polys = [
        _box("megacity", int(42.9 * B), int(8.9 * B),
             int(43.1 * B), int(9.1 * B)),
        _box("band", 44 * B, 5 * B, 46 * B, 15 * B),
        _box("corner", 40 * B, 5 * B, 41 * B, 6 * B),
    ]
    fy, fx, fr = HOTSPOTS[1]
    polys.append(_star(
        "star_hot", rng, REGION_LAT0 + int(REGION_SPAN * fy),
        REGION_LON0 + int(REGION_SPAN * fx), REGION_SPAN * fr * 1.2,
        STAR_SPIKES))
    for i in range(3):
        margin = STAR_RADIUS + B // 10
        clat = int(rng.integers(REGION_LAT0 + margin,
                                REGION_LAT0 + REGION_SPAN - margin))
        clon = int(rng.integers(REGION_LON0 + margin,
                                REGION_LON0 + REGION_SPAN - margin))
        polys.append(_star(f"star{i}", rng, clat, clon, STAR_RADIUS,
                           STAR_SPIKES))
    return polys


def make_queries(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    rng = _rng(seed, 2)
    lat = REGION_LAT0 + rng.integers(0, REGION_SPAN, n, dtype=np.int64)
    lon = REGION_LON0 + rng.integers(0, REGION_SPAN, n, dtype=np.int64)
    return lat, lon


def make_corpus(seed: int, n_docs: int) -> Corpus:
    """``n_docs`` documents of ``DOC_WORDS`` random vocabulary words.

    - 1% are the identical template text (the flood).
    - About 10% sit in planted groups of 2-4 members: a base text, then
      the base text plus one extra word per further member (3-shingle
      Jaccard ≥ 0.95 to the base).
    - The rest are singletons; random 40-word texts over a 50k-word
      vocabulary share no 3-shingle in practice, so every true
      near-duplicate pair lies inside a planted group or the flood.
    """
    rng = _rng(seed, 3)
    vocab = np.array([np.base_repr(int(v), 36).lower() for v in
                      rng.integers(36 ** 4, 36 ** 6, VOCAB_SIZE)])
    n_flood = max(n_docs // 100, 2)
    texts: list[str] = [TEMPLATE_TEXT] * n_flood
    members: list[list[int]] = [list(range(n_flood))]
    while len(texts) < n_flood + n_docs // 10:
        size = int(rng.integers(2, 5))
        base = " ".join(vocab[rng.integers(0, VOCAB_SIZE, DOC_WORDS)])
        grp = []
        for j in range(size):
            grp.append(len(texts))
            texts.append(base if j == 0 else
                         f"{base} {vocab[rng.integers(VOCAB_SIZE)]}q{j}")
        members.append(grp)
    while len(texts) < n_docs:
        texts.append(" ".join(vocab[rng.integers(0, VOCAB_SIZE, DOC_WORDS)]))
    # position i gets doc id perm[i]: groups spread over the id space
    perm = rng.permutation(n_docs)
    order = np.argsort(perm)
    return Corpus(doc_ids=[str(i) for i in range(n_docs)],
                  texts=[texts[i] for i in order],
                  groups=[[int(perm[i]) for i in g] for g in members[1:]],
                  flood=[int(perm[i]) for i in members[0]])


def make_inputs(workload: str, seed: int) -> Inputs:
    if seed < 0:
        raise ValueError("seed must be >= 0")
    sizes = SIZES[workload]
    fileblocks, expected = synth_fileblocks(
        sizes.nodes, seed=seed % (1 << 32), block_elements=BLOCK_ELEMENTS)
    qlat, qlon = make_queries(seed, sizes.queries)
    return Inputs(seed=seed, sizes=sizes, fileblocks=fileblocks,
                  expected=expected, polygons=make_polygons(seed),
                  query_lat=qlat, query_lon=qlon,
                  corpus=make_corpus(seed, sizes.docs))
