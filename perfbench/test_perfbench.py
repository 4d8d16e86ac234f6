"""Self-tests of the benchmark: oracle helpers, seed determinism, metric
names, and the refusal to run without the engine. No Spark session.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pytest

from perfbench import oracles
from perfbench.inputs import make_corpus, make_inputs, make_polygons, \
    make_queries

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def ray_cast_loop(py: int, px: int, ring) -> bool:
    """Row-at-a-time rendering of the engine's ``point_in_ring_expr``
    (Python integers: exact)."""
    crossings = 0
    for (alat, alon), (blat, blon) in zip(ring[:-1], ring[1:]):
        if (alat > py) == (blat > py):
            continue
        lhs = (px - alon) * (blat - alat)
        rhs = (blon - alon) * (py - alat)
        crossings += (lhs < rhs) if blat > alat else (lhs > rhs)
    return crossings % 2 == 1


# ------------------------------------------------------------- oracles

@pytest.mark.parametrize("seed", [0, 1, 2])
def test_points_in_ring_matches_loop(seed):
    rng = np.random.default_rng(seed)
    for name, ring in make_polygons(seed):
        lats = [a for a, _ in ring]
        lons = [b for _, b in ring]
        lat = rng.integers(min(lats) - 10**7, max(lats) + 10**7, 400)
        lon = rng.integers(min(lons) - 10**7, max(lons) + 10**7, 400)
        # vertices and edge midpoints: the boundary cases
        lat = np.concatenate([lat, lats, [(a + b) // 2 for a, b in
                                          zip(lats[:-1], lats[1:])]])
        lon = np.concatenate([lon, lons, [(a + b) // 2 for a, b in
                                          zip(lons[:-1], lons[1:])]])
        got = oracles.points_in_ring(lat, lon, ring)
        want = [ray_cast_loop(int(y), int(x), ring) for y, x in zip(lat, lon)]
        assert got.tolist() == want, name


def test_points_in_ring_wide_ring_uses_exact_integers():
    # a 40°×80° box: cross products exceed int64, forcing the object path
    b = 10**9
    ring = [(-20 * b, -40 * b), (20 * b, -40 * b), (20 * b, 40 * b),
            (-20 * b, 40 * b), (-20 * b, -40 * b)]
    lat = np.array([0, 19 * b, 21 * b, -20 * b + 1], dtype=np.int64)
    lon = np.array([0, 39 * b, 0, -40 * b + 1], dtype=np.int64)
    got = oracles.points_in_ring(lat, lon, ring).tolist()
    assert got == [ray_cast_loop(int(y), int(x), ring)
                   for y, x in zip(lat, lon)]
    assert got[:3] == [True, True, False]


def test_pip_reference_digest():
    ring = [(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]
    ids = np.array([1, 2, 3])
    lat = np.array([5, 5, 50])
    lon = np.array([5, 6, 5])
    assert oracles.pip_reference(ids, lat, lon, [("sq", ring)]) == \
        {"sq": (2, 3, 10, 11)}
    rows = [("sq@7", 2, 3, 10, 11)]
    assert oracles.pip_digest(rows) == {"sq": (2, 3, 10, 11)}


def test_knn_bruteforce_orders_by_distance_then_id():
    ids = np.array([9, 4, 7, 1])
    lat = np.array([0, 3, 0, 0])
    lon = np.array([3, 0, -3, 1])
    top = oracles.knn_bruteforce(ids, lat, lon, 0, 0, 3)
    assert top == [(1, 1.0), (4, 9.0), (7, 9.0)]
    rows = [(5, 7, 3, 9.0), (5, 1, 1, 1.0), (5, 4, 2, 9.0)]
    assert oracles.knn_rows_match(rows, {5: top})
    assert not oracles.knn_rows_match(rows[:2], {5: top})
    swapped = [(5, 4, 3, 9.0), (5, 1, 1, 1.0), (5, 7, 2, 9.0)]
    assert not oracles.knn_rows_match(swapped, {5: top})


def test_decode_counts_match():
    exp = {"node": 3, "way": 1, "relation": 1, "building_ways": 1,
           "tagged_nodes": 0}
    assert oracles.decode_counts_match(exp, dict(exp))
    assert not oracles.decode_counts_match(exp, {**exp, "way": 2})


def test_near_dup_check():
    groups, flood = [[1, 2, 3], [4, 5]], [7, 8, 9]
    pairs = [(1, 2), (1, 3), (3, 2), (4, 5), (7, 8), (9, 7), (8, 9)]
    assert oracles.near_dup_check(pairs, groups, flood) == (True, 1.0)
    assert not oracles.near_dup_check(pairs + [(1, 4)], groups, flood)[0]
    assert not oracles.near_dup_check(pairs + [(2, 1)], groups, flood)[0]
    ok, recall = oracles.near_dup_check(pairs[1:], groups, flood)
    assert not ok and recall == 0.75
    assert not oracles.near_dup_check(pairs[:-1], groups, flood)[0]


def test_corpus_structure():
    c = make_corpus(3, 2000)
    assert len(c.doc_ids) == len(c.texts) == 2000
    assert len(c.flood) == 20
    assert len({c.texts[i] for i in c.flood}) == 1
    for g in c.groups:
        base = c.texts[g[0]]
        assert 2 <= len(g) <= 4
        assert all(c.texts[d].startswith(base) for d in g)
    members = [d for g in c.groups for d in g] + c.flood
    assert len(members) == len(set(members))


def test_heap_after_gc_peak_reads_the_largest_after_value(tmp_path):
    from perfbench.spans import heap_after_gc_peak_mb
    log = tmp_path / "gc.log"
    log.write_text(
        "[0.5s][info][gc] Using G1\n"
        "[0.6s][info][gc] GC(0) Pause Young (Normal) (G1 Evacuation Pause)"
        " 24M->3M(2048M) 3.4ms\n"
        "[1.0s][info][gc] GC(1) Pause Young (Concurrent Start)"
        " (G1 Humongous Allocation) 900M->412M(2048M) 9.1ms\n"
        "[1.1s][info][gc] GC(2) Pause Remark 500M->1G(2048M) 1.0ms\n")
    assert heap_after_gc_peak_mb(str(log)) == 2 ** 30 / 1e6
    log.write_text("[0.5s][info][gc] Using G1\n")
    assert heap_after_gc_peak_mb(str(log)) == 0.0


# --------------------------------------------------------------- seeds

def test_same_seed_same_digest_other_seed_differs():
    a = make_inputs("knn_join", 5).digest()
    assert make_inputs("knn_join", 5).digest() == a
    assert make_inputs("knn_join", 6).digest() != a


def test_seeded_parts_are_deterministic():
    assert make_polygons(4) == make_polygons(4) != make_polygons(5)
    la, lo = make_queries(4, 100)
    lb, lob = make_queries(4, 100)
    assert (la == lb).all() and (lo == lob).all()
    assert (make_queries(5, 100)[0] != la).any()
    assert make_corpus(4, 500) == make_corpus(4, 500)


# ------------------------------------------------------ metric contract

def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]}, spec)


def test_printed_metric_names_are_declared():
    from perfbench.run import E2E_UNITS
    from perfbench.workloads import per_layer_units
    e2e, layers, _ = declared()
    assert E2E_UNITS == e2e
    assert per_layer_units() == layers
    for name in list(e2e) + list(layers):
        assert NAME.fullmatch(name), name


def test_workloads_are_declared():
    from perfbench.inputs import SIZES
    from perfbench.workloads import WORKLOADS
    _, _, spec = declared()
    names = [w["name"] for w in spec["workloads"]]
    assert sorted(names) == sorted(WORKLOADS) == sorted(SIZES)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "decode_pip",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
