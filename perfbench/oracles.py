"""Output checks: brute-force references the engine's answers must equal.

The helpers here are plain Python/numpy so the self-tests can exercise
them without Spark; the Spark-side brute-force PIP reference lives in
``workloads.py`` because it needs a session.
"""

from __future__ import annotations

import numpy as np

DECODE_KEYS = ("node", "way", "relation", "building_ways", "tagged_nodes")


def decode_counts_match(expected: dict, got: dict) -> bool:
    """Decoded per-kind counts equal the generator's expected dict."""
    return all(int(got.get(k, -1)) == int(expected[k]) for k in DECODE_KEYS)


def polygon_name(poly_id: str) -> str:
    """``name@iteration`` → ``name`` (iterations rename polygons so each
    builds a cold cover)."""
    return poly_id.split("@", 1)[0]


def pip_digest(rows) -> dict[str, tuple[int, int, int, int]]:
    """(poly_id, n, Σid, Σlat, Σlon) rows → {name: (n, Σid, Σlat, Σlon)}."""
    return {polygon_name(r[0]): tuple(int(v) for v in r[1:5]) for r in rows}


def knn_bruteforce(ids: np.ndarray, lat: np.ndarray, lon: np.ndarray,
                   qlat: int, qlon: int, k: int) -> list[tuple[int, float]]:
    """The k nearest points to one query as [(id, dist2)], ordered by
    squared planar nanodegree distance then id — the engine's contract.
    Distances are computed the way the engine does: integer differences
    cast to double, then d·d summed."""
    dlat = (lat - qlat).astype(np.float64)
    dlon = (lon - qlon).astype(np.float64)
    d2 = dlat * dlat + dlon * dlon
    top = np.lexsort((ids, d2))[:k]
    return [(int(ids[i]), float(d2[i])) for i in top]


def knn_rows_match(rows, expected: dict[int, list[tuple[int, float]]]
                   ) -> bool:
    """Sampled output rows (query_id, id, rn, dist2) equal the brute-force
    answer for every sampled query, rank by rank."""
    got: dict[int, list[tuple[int, int, float]]] = {q: [] for q in expected}
    for q, pid, rn, d2 in rows:
        if q not in got:
            return False
        got[q].append((int(rn), int(pid), float(d2)))
    for q, want in expected.items():
        ranked = sorted(got[q])
        if [r for r, _, _ in ranked] != list(range(1, len(want) + 1)):
            return False
        if [(p, d) for _, p, d in ranked] != want:
            return False
    return True


def points_in_ring(lat: np.ndarray, lon: np.ndarray,
                   ring: list[tuple[int, int]]) -> np.ndarray:
    """Exact even-odd test of points against one closed ring of
    (lat, lon) nanodegree vertices — the rule the engine's
    ``point_in_ring_expr`` implements: count ring edges that cross the
    point's latitude strictly to the right of the point.

    Only points inside the ring's bounding box can be inside, and for
    those every cross product is bounded by width × height, so int64 is
    exact when that bound fits; otherwise Python integers are used."""
    lat = np.asarray(lat, dtype=np.int64)
    lon = np.asarray(lon, dtype=np.int64)
    r = np.asarray(ring, dtype=np.int64)
    inside = np.zeros(len(lat), dtype=bool)
    box = ((lat >= r[:, 0].min()) & (lat <= r[:, 0].max())
           & (lon >= r[:, 1].min()) & (lon <= r[:, 1].max()))
    idx = np.nonzero(box)[0]
    extent = (int(np.ptp(r[:, 0])) + 1) * (int(np.ptp(r[:, 1])) + 1)
    dtype = np.int64 if extent < 2 ** 62 else object
    box_lat = lat[idx]
    plat = box_lat.astype(dtype)
    plon = lon[idx].astype(dtype)
    odd = np.zeros(len(idx), dtype=bool)
    for (alat, alon), (blat, blon) in zip(r[:-1].tolist(), r[1:].tolist()):
        cross = (alat > box_lat) != (blat > box_lat)
        if not cross.any():
            continue
        lhs = (plon[cross] - alon) * (blat - alat)
        rhs = (blon - alon) * (plat[cross] - alat)
        hit = (lhs < rhs) if blat > alat else (lhs > rhs)
        odd[np.nonzero(cross)[0][hit.astype(bool)]] ^= True
    inside[idx] = odd
    return inside


def pip_reference(ids, lat, lon, polygons) -> dict:
    """Brute-force PIP digest {name: (n, Σid, Σlat, Σlon)} over every
    point and polygon — no grid, no cover."""
    out = {}
    for name, ring in polygons:
        m = points_in_ring(lat, lon, ring)
        if m.any():
            out[name] = (int(m.sum()), int(ids[m].sum()),
                         int(lat[m].sum()), int(lon[m].sum()))
    return out


def near_dup_check(pairs, groups, flood,
                   min_recall: float = 0.99) -> tuple[bool, float]:
    """Check near-duplicate output pairs against the planted structure.

    MinHash-LSH finds a pair only with high probability, so planted
    pairs are held to a recall floor; everything else is exact: each
    output pair lies inside one planted group or the flood, and the
    flood (identical texts, identical signatures) is complete.
    Returns (ok, planted recall)."""
    group_of = {d: g for g, members in enumerate(groups) for d in members}
    flood_set = set(flood)
    planted = sum(len(g) * (len(g) - 1) // 2 for g in groups)
    found = flood_pairs = 0
    seen = set()
    for a, b in pairs:
        a, b = int(a), int(b)
        key = (min(a, b), max(a, b))
        if a == b or key in seen:
            return False, 0.0
        seen.add(key)
        if a in flood_set and b in flood_set:
            flood_pairs += 1
        elif a in group_of and group_of[a] == group_of.get(b):
            found += 1
        else:
            return False, 0.0
    m = len(flood_set)
    recall = found / planted if planted else 1.0
    return flood_pairs == m * (m - 1) // 2 and recall >= min_recall, recall
