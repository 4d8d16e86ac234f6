"""The benchmark workloads and the traced layer sweep.

A workload object has four phases, driven by ``run.py``:

- ``setup()``: load the generated inputs into Spark and persist what the
  iterations read (timed as set-up; repeated, see ``run.py``).
- ``prepare_oracle()``: compute, once per run and untimed, the reference
  answers the iterations are checked against. It runs on the driver
  only, so the first iteration still meets a cold session.
- ``iterate(i)``: one timed iteration ending in a small aggregate action
  whose result is the iteration's output digest.
- ``check(result)``: compare that digest with the reference.
- ``final_check()``: checks that need Spark jobs of their own, run after
  the timed iterations.

Every call into the engine goes through its public functions; nothing
under ``osmpbf_spark/`` is imported privately or patched.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from osmpbf_spark.functions.grid import cell_parent, cell_xy, with_grid_cells
from osmpbf_spark.functions.tiles import raster_vector_assignment
from osmpbf_spark.operators.dedup import (
    lsh_candidate_edges,
    minhash_lsh_pairs,
)
from osmpbf_spark.operators.knn import grid_knn
from osmpbf_spark.operators.pip import (
    cover_for,
    make_polygons,
    pip_join,
)
from osmpbf_spark.pbf.decode import (
    decode_blob_batch,
    decode_node_points_batch,
)
from osmpbf_spark.sources.documents import (
    fileblocks_to_rows,
    make_documents,
    read_elements,
    read_node_points,
)
from osmpbf_spark.sources.store import (
    nodes_in_id_range,
    read_store,
    write_elements,
)

from . import oracles
from .inputs import Inputs

PIP_RES = 16
# a res-13 cell covers four res-14 cells, so 250k points and 25k queries
# at res 13 put as many points and queries in a cell as bench.py's 1M
# points and 100k queries at res 14: the same rounds (jobs) per call
KNN_RES = 13
KNN_K = 5
KNN_SAMPLE = 16
TILE_ZOOM = 12


class Env:
    """What every phase needs: the session, the inputs, the core count,
    a private work directory inside the checkout and the tracer (None
    unless the run is traced)."""

    def __init__(self, spark, inputs: Inputs, cpus: int, workdir: str,
                 tracer):
        self.spark = spark
        self.inputs = inputs
        self.cpus = cpus
        self.workdir = workdir
        self.tracer = tracer

    @property
    def partitions(self) -> int:
        return 2 * self.cpus


# ---------------------------------------------------------------- helpers

def load_documents(env: Env):
    """Generated fileblocks → persisted documents + media tables."""
    doc_rows, media_rows = fileblocks_to_rows(
        f"bench-{env.inputs.seed}", env.inputs.fileblocks)
    docs, media = make_documents(env.spark, doc_rows, media_rows,
                                 num_partitions=env.partitions)
    docs, media = docs.persist(), media.persist()
    docs.count()
    media.count()
    return docs, media


def load_queries(env: Env):
    inp = env.inputs
    pdf = pd.DataFrame({
        "query_id": np.arange(len(inp.query_lat), dtype=np.int64),
        "lat_nano": inp.query_lat, "lon_nano": inp.query_lon})
    q = with_grid_cells(env.spark.createDataFrame(pdf).repartition(
        env.partitions), res=KNN_RES).persist()
    q.count()
    return q


def load_corpus(env: Env):
    c = env.inputs.corpus
    pdf = pd.DataFrame({"doc_id": c.doc_ids, "text": c.texts})
    docs = env.spark.createDataFrame(pdf).repartition(env.partitions).persist()
    docs.count()
    return docs


def nodes_of(elements):
    return elements.filter(F.col("element_type") == "node")


def noop(df) -> None:
    """Force every row of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def decode_counts(elements) -> dict:
    is_node = F.col("element_type") == "node"
    is_way = F.col("element_type") == "way"
    row = elements.agg(
        F.sum(is_node.cast("long")).alias("node"),
        F.sum(is_way.cast("long")).alias("way"),
        F.sum((F.col("element_type") == "relation").cast("long"))
        .alias("relation"),
        F.sum((is_way & (F.col("tags")["building"] == "yes"))
              .cast("long")).alias("building_ways"),
        F.sum((is_node & (F.coalesce(F.size("tags"), F.lit(0)) > 0))
              .cast("long")).alias("tagged_nodes"),
    ).collect()[0]
    return {k: int(row[k] or 0) for k in oracles.DECODE_KEYS}


def pip_digest_df(joined):
    return joined.groupBy("poly_id").agg(
        F.count("*"), F.sum("id"), F.sum("lat_nano"), F.sum("lon_nano"))


def driver_points(env: Env):
    """(ids, lat, lon) of every node, decoded on the driver by the
    engine's node-points kernel — a second decode path, independent of
    the Spark scan the workloads time."""
    batch = decode_node_points_batch(
        (f"oracle#{i}", i, t, b) for i, (t, b) in
        enumerate(env.inputs.fileblocks))
    return tuple(batch.column(c).to_numpy() for c in
                 ("id", "lat_nano", "lon_nano"))


def fresh_polygons(env: Env, tag):
    """The input polygons under new ids (same geometry), so the engine's
    per-session cover memo cannot serve them: every call builds a cold
    cover."""
    return make_polygons(env.spark, [(f"{name}@{tag}", ring)
                                     for name, ring in env.inputs.polygons])


def knn_digest(out, sample: list[int]):
    return out.agg(
        F.count("*").alias("n"),
        F.collect_list(F.when(F.col("query_id").isin(sample), F.struct(
            "query_id", "id", "rn", "dist2"))).alias("rows")).collect()[0]


# -------------------------------------------------------------- workloads

class DecodePip:
    """Per iteration: read_elements → node filter → with_grid_cells(16) →
    pip_join against freshly named polygons (cold cover every time)."""

    name = "decode_pip"

    def __init__(self, env: Env):
        self.env = env
        self.items = env.inputs.elements

    def setup(self):
        self.docs, self.media = load_documents(self.env)

    def release(self):
        self.docs.unpersist()
        self.media.unpersist()

    def prepare_oracle(self):
        self.want = oracles.pip_reference(*driver_points(self.env),
                                          self.env.inputs.polygons)

    def final_check(self) -> bool:
        got = decode_counts(read_elements(
            self.docs, self.media, decode_partitions=self.env.partitions))
        return oracles.decode_counts_match(self.env.inputs.expected, got)

    def iterate(self, it: int):
        el = read_elements(self.docs, self.media,
                           decode_partitions=self.env.partitions)
        nodes = with_grid_cells(nodes_of(el), res=PIP_RES)
        joined = pip_join(nodes, fresh_polygons(self.env, it), res=PIP_RES)
        return pip_digest_df(joined).collect()

    def check(self, result) -> bool:
        return oracles.pip_digest(result) == self.want


class KnnJoin:
    """Set-up decodes the node points (the engine's points-only scan),
    grid-indexes them (res 13) and persists them with the queries; per
    iteration: grid_knn(k=5) with the co-partitioned shuffle join
    (broadcast_candidates=False)."""

    name = "knn_join"

    def __init__(self, env: Env):
        self.env = env
        self.items = len(env.inputs.query_lat)
        rng = np.random.default_rng([env.inputs.seed, 4])
        self.sample = sorted(int(q) for q in rng.choice(
            self.items, KNN_SAMPLE, replace=False))

    def setup(self):
        docs, media = load_documents(self.env)
        pts = read_node_points(docs, media,
                               decode_partitions=self.env.partitions)
        self.points = with_grid_cells(
            pts.select("id", "lat_nano", "lon_nano"), res=KNN_RES).persist()
        self.n_points = self.points.count()
        self.queries = load_queries(self.env)
        docs.unpersist()
        media.unpersist()

    def release(self):
        self.points.unpersist()
        self.queries.unpersist()

    def prepare_oracle(self):
        ids, lat, lon = driver_points(self.env)
        inp = self.env.inputs
        self.want = {q: oracles.knn_bruteforce(
            ids, lat, lon, int(inp.query_lat[q]), int(inp.query_lon[q]),
            KNN_K) for q in self.sample}

    def final_check(self) -> bool:
        return self.n_points == self.env.inputs.expected["node"]

    def iterate(self, it: int):
        out = grid_knn(self.points, self.queries, KNN_K, res=KNN_RES,
                       broadcast_candidates=False)
        return knn_digest(out, self.sample)

    def check(self, result) -> bool:
        rows = [(r["query_id"], r["id"], r["rn"], r["dist2"])
                for r in result["rows"]]
        return (result["n"] == KNN_K * self.items
                and oracles.knn_rows_match(rows, self.want))


WORKLOADS = {w.name: w for w in (DecodePip, KnnJoin)}


# ------------------------------------------------------------ layer sweep

GENERIC = ("wall_s", "tasks", "task_run_s", "cpu_s", "idle_core_s",
           "shuffle_write_mb", "shuffle_read_mb", "spill_mb")

# span → generic metrics it reports (structurally zero ones left out)
SPARK_SPANS = {
    "sources.read_elements": GENERIC,
    "functions.grid.with_grid_cells": GENERIC[:5],
    "operators.pip.cover_for": GENERIC,
    "operators.pip.pip_join": GENERIC,
    "operators.knn.grid_knn": GENERIC,
    "sources.store.write_elements": GENERIC,
    "sources.store.nodes_in_id_range": GENERIC[:7],
    "functions.tiles.raster_vector_assignment": GENERIC,
    "operators.dedup.lsh_candidate_edges": GENERIC,
    "operators.dedup.minhash_lsh_pairs": GENERIC,
}

EXTRA_METRICS = {
    "session.get_spark.wall_s": "s",
    "pbf.decode_s": "s",
    "pbf.node_points_s": "s",
    "pbf.payload_mb": "MB",
    "sources.boundary_s": "s",
    "pip.cover_rows": "count",
    "pip.cover_full_frac": "ratio",
    "pip.candidates": "count",
    "pip.boundary_candidates": "count",
    "pip.matches": "count",
    "pip.refine_hit_ratio": "ratio",
    "knn.jobs": "count",
    "knn.result_rows": "count",
    "store.read_frac": "ratio",
    "dedup.candidate_edges": "count",
    "dedup.pairs": "count",
    "dedup.expand_s": "s",
    "dedup.recall": "ratio",
    "first_run_s": "s",
    "trace.iteration_s": "s",
    "trace.overhead_s": "s",
    "jvm.heap_after_gc_peak_mb": "MB",
}

_GENERIC_UNITS = {"wall_s": "s", "tasks": "count", "task_run_s": "s",
                  "cpu_s": "s", "idle_core_s": "s", "shuffle_write_mb": "MB",
                  "shuffle_read_mb": "MB", "spill_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name → unit, in report order."""
    units = {}
    for span, keys in SPARK_SPANS.items():
        for k in keys:
            units[f"{span}.{k}"] = _GENERIC_UNITS[k]
    units.update(EXTRA_METRICS)
    return units


def _bytes_on_disk(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files
               if not f.startswith((".", "_")))


def _pip_candidates(cells, cover) -> tuple[int, int]:
    """(candidates, boundary candidates): node × cover-row pairs whose
    cells match, at whatever resolution each cover row was emitted —
    counted from the public cover, not from inside pip_join."""
    res_of = cell_xy("cell")[0]
    total = boundary = 0
    for (r,) in cover.select(res_of.alias("r")).distinct().collect():
        rows = cover.filter(res_of == r)
        probe = cells.withColumn("_k", cell_parent("cell", int(r)))
        row = (probe.join(F.broadcast(rows), probe["_k"] == rows["cell"])
               .agg(F.count("*"), F.sum((~rows["full"]).cast("long")))
               .collect()[0])
        total += int(row[0])
        boundary += int(row[1] or 0)
    return total, boundary


def layer_sweep(env: Env, session_s: float) -> tuple[dict, bool]:
    """One span per public layer call, each on persisted inputs and
    forced by an action. Returns (per-layer metrics, all checks passed).

    Every workload runs the full sweep on its own inputs, so every
    per-layer metric is measured in every traced run; the inputs a
    workload is not about are small (see ``inputs.SIZES``)."""
    spark, inp, tr = env.spark, env.inputs, env.tracer
    m: dict[str, float] = {"session.get_spark.wall_s": session_s}
    ok = True

    def generic(span):
        for k in SPARK_SPANS[span.name]:
            m[f"{span.name}.{k}"] = (span.wall_s if k == "wall_s"
                                     else span.counters[k])

    blobs = [(f"sweep#{i}", i, t, b) for i, (t, b) in
             enumerate(inp.fileblocks)]
    with tr.span("pbf.decode_blob_batch", parent="sweep", spark=False) as s:
        decoded = decode_blob_batch(blobs)
    m["pbf.decode_s"] = s.wall_s
    with tr.span("pbf.decode_node_points_batch", parent="sweep",
                 spark=False) as s:
        points = decode_node_points_batch(blobs)
    m["pbf.node_points_s"] = s.wall_s
    m["pbf.payload_mb"] = sum(len(b) for t, b in inp.fileblocks
                              if t == "OSMData") / 1e6
    ok &= decoded.num_rows == inp.elements
    ok &= points.num_rows == inp.expected["node"]

    docs, media = load_documents(env)
    with tr.span("sources.read_elements", parent="sweep") as s:
        noop(read_elements(docs, media, decode_partitions=env.partitions))
    generic(s)
    m["sources.boundary_s"] = s.counters["task_run_s"] - m["pbf.decode_s"]

    elements = read_elements(docs, media,
                             decode_partitions=env.partitions).persist()
    ok &= oracles.decode_counts_match(inp.expected, decode_counts(elements))
    nodes = nodes_of(elements)
    with tr.span("functions.grid.with_grid_cells", parent="sweep") as s:
        noop(with_grid_cells(nodes, res=PIP_RES))
    generic(s)

    cells = with_grid_cells(nodes, res=PIP_RES).persist()
    cells.count()
    polys = fresh_polygons(env, "sweep")
    with tr.span("operators.pip.cover_for", parent="sweep") as s:
        cover = cover_for(polys, PIP_RES)
        crow = cover.agg(F.count("*"),
                         F.sum(F.col("full").cast("long"))).collect()[0]
    generic(s)
    m["pip.cover_rows"] = int(crow[0])
    m["pip.cover_full_frac"] = int(crow[1] or 0) / max(int(crow[0]), 1)
    with tr.span("operators.pip.pip_join", parent="sweep") as s:
        matches = pip_join(cells, polys, res=PIP_RES).count()
    generic(s)
    candidates, boundary = _pip_candidates(cells, cover)
    full_candidates = candidates - boundary
    m["pip.candidates"] = candidates
    m["pip.boundary_candidates"] = boundary
    m["pip.matches"] = matches
    m["pip.refine_hit_ratio"] = ((matches - full_candidates)
                                 / max(boundary, 1))
    reference = oracles.pip_reference(*driver_points(env), inp.polygons)
    ok &= matches == sum(v[0] for v in reference.values())

    knn_points = with_grid_cells(nodes.select("id", "lat_nano", "lon_nano"),
                               res=KNN_RES).persist()
    knn_points.count()
    queries = load_queries(env)
    with tr.span("operators.knn.grid_knn", parent="sweep") as s:
        knn_rows = grid_knn(knn_points, queries, KNN_K, res=KNN_RES,
                            broadcast_candidates=False).count()
    generic(s)
    m["knn.jobs"] = s.counters["jobs"]
    m["knn.result_rows"] = knn_rows
    ok &= knn_rows == KNN_K * len(inp.query_lat)

    path = os.path.join(env.workdir, "store")
    with tr.span("sources.store.write_elements", parent="sweep") as s:
        write_elements(elements, path, sort_partitions=env.partitions)
    generic(s)
    store = read_store(spark, path)
    n_nodes = inp.expected["node"]
    lo = 1 + int(np.random.default_rng([inp.seed, 5]).integers(
        0, n_nodes - n_nodes // 100))
    hi = lo + n_nodes // 100 - 1
    with tr.span("sources.store.nodes_in_id_range", parent="sweep") as s:
        in_range = nodes_in_id_range(store, lo, hi).count()
    generic(s)
    m["store.read_frac"] = s.counters["input_mb"] * 1e6 / _bytes_on_disk(path)
    ok &= in_range == hi - lo + 1
    with tr.span("functions.tiles.raster_vector_assignment",
                 parent="sweep") as s:
        tiles = raster_vector_assignment(nodes_of(store),
                                         zoom=TILE_ZOOM).collect()
    generic(s)
    ok &= sum(r["cnt"] for r in tiles) == n_nodes

    corpus = load_corpus(env)
    # dedup.expand_s is a difference of the next two spans: warm the
    # shared signature path first so neither pays first-use costs
    lsh_candidate_edges(corpus).count()
    with tr.span("operators.dedup.lsh_candidate_edges", parent="sweep") as s:
        edges = lsh_candidate_edges(corpus).count()
    generic(s)
    edges_s = s.wall_s
    with tr.span("operators.dedup.minhash_lsh_pairs", parent="sweep") as s:
        pairs = minhash_lsh_pairs(corpus).select("doc_a", "doc_b").collect()
    generic(s)
    m["dedup.candidate_edges"] = edges
    m["dedup.pairs"] = len(pairs)
    m["dedup.expand_s"] = s.wall_s - edges_s
    pairs_ok, m["dedup.recall"] = oracles.near_dup_check(
        pairs, inp.corpus.groups, inp.corpus.flood)
    ok &= pairs_ok

    for df in (docs, media, elements, cells, knn_points, queries, corpus):
        df.unpersist()
    shutil.rmtree(path, ignore_errors=True)
    return m, bool(ok)
