"""The three closed-loop workloads. Each drives the package's public
functions on one fresh, equal-size input batch per call.

A workload object holds the run's fixed inputs (``setup``), makes call
``i``'s batch from its own seed (``batch``), runs the timed call (``call``,
which returns the output and the latency of each client request in it),
checks the output independently (``check``) and, in a traced run, times
the layers directly on the same batch (``probe_layers``).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen

from s2_geometry_library_java_spark.kernel import cellid as s2
from s2_geometry_library_java_spark.kernel import coverer as cov
from s2_geometry_library_java_spark.kernel import predicates
from s2_geometry_library_java_spark.kernel import region as rg
from s2_geometry_library_java_spark.kernel import shapeindex as si
from s2_geometry_library_java_spark.operators import closestedge, dedup, knn, pip
from s2_geometry_library_java_spark.operators import shapes as shape_ops
from s2_geometry_library_java_spark.operators import tiling
from s2_geometry_library_java_spark.functions import udfs
from s2_geometry_library_java_spark.pipeline import corpus
from s2_geometry_library_java_spark.pipeline.runner import CheckpointedPipeline
from s2_geometry_library_java_spark.plans import density
from s2_geometry_library_java_spark.sources import docs as sdocs
from s2_geometry_library_java_spark.sources import tables


def write_table(frame: pd.DataFrame, root: str, name: str, n_files: int) -> str:
    """``root/name.parquet`` as ``n_files`` files, so a scan has one split
    per core."""
    path = os.path.join(root, f"{name}.parquet")
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(frame)), n_files)):
        pq.write_table(
            pa.Table.from_pandas(frame.iloc[part], preserve_index=False),
            os.path.join(path, f"part-{i:03d}.parquet"),
        )
    return path


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def kernel_polygons(polys) -> dict:
    """The engine's polygon objects, built from the generator's degrees."""
    return {
        p.pid: rg.Polygon([rg.Loop.from_latlng_degrees(list(zip(p.lat, p.lng)))])
        for p in polys
    }


@dataclass
class Batch:
    index: int
    dir: str
    items: int
    data: dict = field(default_factory=dict)


def _time(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def probe_kernels(polys, lat, lng, t) -> None:
    """kernel.* figures on a call's own inputs, single-threaded in-process."""
    _, enc_s = _time(lambda: s2.latlng_degrees_to_cell_id(lat, lng))
    t.note("kernel.cellid.s", enc_s)
    t.note("kernel.cellid.rows", len(lat))
    pts = gen.latlng_deg_to_xyz(lat[:2000], lng[:2000])
    kp = kernel_polygons(polys)
    tests = 0
    t0 = time.perf_counter()
    for poly in kp.values():
        for lp in poly.loops:
            predicates.count_crossings(rg.Loop.ORIGIN, pts, lp.vertices)
            tests += len(pts) * len(lp.vertices)
    t.note("kernel.predicates.edge_tests_per_s", tests / (time.perf_counter() - t0))
    coverer = cov.RegionCoverer(max_cells=8)
    _, cov_s = _time(lambda: [coverer.get_covering(p) for p in kp.values()])
    t.note("kernel.coverer.s_per_polygon", cov_s / len(kp))


def probe_boundary(spark, df, lat_col, lng_col, lat, lng, t) -> None:
    """The Arrow cell-id UDF alone over the call's points, to a noop sink;
    its Python time over the in-process kernel time on the same rows."""
    with t.span("functions.cellid"):
        df.select(udfs.cell_id_from_latlng_deg(df[lat_col], df[lng_col], 30)).write.format(
            "noop"
        ).mode("overwrite").save()
    _, enc_s = _time(lambda: s2.latlng_degrees_to_cell_id(lat, lng))
    t.note("functions.kernel_s", enc_s)


# -- geotag_docs ---------------------------------------------------------------

class GeotagDocs:
    """Batch ETL: documents -> media spans -> level-12 tiles -> polygon
    assignment, staged to parquet, then a (tile, polygon) rollup."""

    name = "geotag_docs"
    DOCS_PER_CALL = 20_000
    #: calls keep getting faster for ~4 calls after the cold one (JIT)
    WARMUP_CALLS = 3
    VERTEX_COUNTS = (8, 16, 32, 64, 128, 256, 512, 1024)
    TILE_LEVEL = 12

    def __init__(self, n_files: int):
        self.n_files = n_files

    def setup(self, spark, rng, fixed_dir: str) -> dict:
        self.model = gen.TextModel(gen.make_vocab(rng))
        self.polys = []
        for i, nv in enumerate(self.VERTEX_COUNTS):
            lat, lng = gen.uniform_latlng(rng, 1, 60.0)
            self.polys.append(gen.make_polygon(
                rng, f"g{i}", nv, (lat[0], lng[0]), rng.uniform(4.0, 12.0), i % 2 == 0
            ))
        self.kpolys = kernel_polygons(self.polys)
        self.probe_rng = np.random.default_rng(rng.integers(1 << 62))
        self.dedup_probed = False
        return {"polygons": [p.n_vertices for p in self.polys]}

    def batch(self, rng, i: int, root: str) -> Batch:
        docs = gen.make_docs(rng, self.model, self.DOCS_PER_CALL, 20, 40)
        write_table(docs.frame(), root, "documents", self.n_files)
        return Batch(i, root, len(docs.doc_id), {"doc_id": docs.doc_id})

    def call(self, spark, b: Batch, t):
        t0 = time.perf_counter()
        docs = tables.load_table(spark, b.dir, "documents")
        with t.span("sources.spans"):
            spans = sdocs.geotagged_media_spans(sdocs.with_spans(docs)).withColumn(
                "span_id", sdocs.geo_key_col()
            )
            tiled = tiling.tile_points(spans, level=self.TILE_LEVEL)
        with t.span("operators.pip.plan"):
            hits = pip.pip_join(spark, tiled, self.kpolys, point_id="span_id", leaf_col="leaf")
        assign = tiled.join(hits.withColumnRenamed("point_id", "span_id"), "span_id", "left")
        pipe = CheckpointedPipeline(spark, os.path.join(b.dir, "pipeline"))
        with t.span("pipeline.stage"):
            out = pipe.stage("assign", lambda: assign, f"batch-{b.index}")
        with t.span("rollup"):
            rows = out.groupBy("tile", "polygon_id").count().collect()
        lat = time.perf_counter() - t0
        result = {
            "rollup": [(r["tile"], r["polygon_id"], r["count"]) for r in rows],
            "rows_out": pipe.lineage("assign")["rows_out"],
        }
        return result, [lat]

    def tiles_of(self, lat, lng) -> np.ndarray:
        leaf = s2.latlng_degrees_to_cell_id(lat, lng)
        return s2.to_signed(s2.parent(leaf, self.TILE_LEVEL))

    def check(self, b: Batch, result) -> list[str]:
        return checks.check_geotag(result["rollup"], result["rows_out"],
                                   b.data["doc_id"], self.polys, self.tiles_of)

    def probe_layers(self, spark, b: Batch, t) -> None:
        docs = tables.load_table(spark, b.dir, "documents")
        spans = sdocs.geotagged_media_spans(sdocs.with_spans(docs))
        with t.span("sources.spans_noop"):
            spans.write.format("noop").mode("overwrite").save()
        _, lat, lng = checks.expected_geotags(b.data["doc_id"])
        probe_boundary(spark, spans, "lat", "lng", lat, lng, t)
        probe_kernels(self.polys, lat, lng, t)
        t.note("pipeline.bytes_written", dir_bytes(os.path.join(b.dir, "pipeline", "assign")))
        if self.dedup_probed:
            return []
        # the text side of the same documents schema, once per traced run:
        # dedup_corpus itself does not fit the benchmark's time budget
        self.dedup_probed = True
        w = DedupCorpus(self.n_files)
        w.model, w.DOCS_PER_CALL = self.model, 1_000
        db = w.batch(self.probe_rng, b.index, os.path.join(b.dir, "dedup"))
        result, _ = w.call(spark, db, t)
        return w.check(db, result) + w.probe_layers(spark, db, t)


# -- geo_lookup ------------------------------------------------------------------

class GeoLookup:
    """Interactive reads against a stored, clustered geotag table: polygon
    counts, kNN of fresh query points, and their closest polygon edges."""

    name = "geo_lookup"
    STORED_POINTS = 200_000
    QUERIES_PER_CALL = 200
    #: a call costs ~15 s on 4 cores, so the cold call is the only warm-up
    #: the run budget allows
    WARMUP_CALLS = 0
    VERTEX_COUNTS = (40, 64, 80, 96)
    RADIUS_DEG = 1.5
    HIST_LEVEL = 4
    K = 10
    #: ring level of the closest-edge search (and the shape index's floor);
    #: level-4 rings reach query points a few hundred km from an edge
    EDGE_LEVEL = 4

    def __init__(self, n_files: int):
        self.n_files = n_files

    def setup(self, spark, rng, fixed_dir: str) -> dict:
        self.metros = gen.make_metros(rng)
        lat, lng = gen.clustered_latlng(rng, self.STORED_POINTS, self.metros)
        ids = gen.distinct_ids(rng, self.STORED_POINTS, 1 << 40)
        leaf = s2.to_signed(s2.latlng_degrees_to_cell_id(lat, lng))
        write_table(
            pd.DataFrame({"id": ids, "lat": lat, "lng": lng, "leaf": leaf}),
            fixed_dir, "geotags", self.n_files,
        )
        self.ids, self.xyz = ids, gen.latlng_deg_to_xyz(lat, lng)
        self.fixed_dir = fixed_dir
        stored = tables.load_table(spark, fixed_dir, "geotags")
        t0 = time.perf_counter()
        self.hist = density.density_histogram(stored, "leaf", self.HIST_LEVEL)
        self.histogram_s = time.perf_counter() - t0
        return {"stored_points": self.STORED_POINTS, "hist_cells": len(self.hist)}

    def batch(self, rng, i: int, root: str) -> Batch:
        polys = []
        for j, nv in enumerate(self.VERTEX_COUNTS):
            if j % 2 == 0:  # on a metro, so the polygon holds dense data
                m = rng.choice(len(self.metros.weight), p=self.metros.weight)
                center = (self.metros.lat[m], self.metros.lng[m])
            else:
                la, ln = gen.uniform_latlng(rng, 1, 60.0)
                center = (la[0], ln[0])
            polys.append(gen.make_polygon(
                rng, f"c{i}_{j}", nv, center, self.RADIUS_DEG, j % 2 == 1
            ))
        gen.check_lookup_polygons(polys, closestedge.SMALL_INDEX_BRUTE_EDGES)
        lat, lng = gen.clustered_latlng(rng, self.QUERIES_PER_CALL, self.metros)
        qids = gen.distinct_ids(rng, self.QUERIES_PER_CALL, 1 << 40)
        write_table(pd.DataFrame({"query_id": qids, "lat": lat, "lng": lng}),
                    root, "queries", self.n_files)
        write_table(pd.DataFrame({"shape_id": [p.pid for p in polys],
                                  "text": [p.text() for p in polys]}),
                    root, "shapes", 1)
        return Batch(i, root, self.QUERIES_PER_CALL, {
            "polys": polys, "kpolys": kernel_polygons(polys), "qids": qids,
            "qxyz": gen.latlng_deg_to_xyz(lat, lng), "lat": lat, "lng": lng,
        })

    def call(self, spark, b: Batch, t):
        stored = tables.load_table(spark, self.fixed_dir, "geotags")
        queries = tables.load_table(spark, b.dir, "queries")
        shapes = tables.load_table(spark, b.dir, "shapes")
        t0 = time.perf_counter()
        with t.span("operators.pip.plan"):
            hits = pip.pip_join(spark, stored, b.data["kpolys"], point_id="id", leaf_col="leaf")
        with t.span("operators.pip.action"):
            pip_rows = hits.groupBy("polygon_id").count().collect()
        t1 = time.perf_counter()
        with t.span("operators.knn.plan"):
            nn = knn.knn_cell_join(stored, queries, k=self.K, density_hist=self.hist,
                                   hist_level=self.HIST_LEVEL)
        with t.span("operators.knn.action"):
            knn_rows = nn.collect()
        t2 = time.perf_counter()
        with t.span("operators.closestedge.plan"):
            index = shape_ops.shape_index_df(shapes, min_level=self.EDGE_LEVEL)
            ce = closestedge.closest_edges(index, queries, k=1, level=self.EDGE_LEVEL)
        with t.span("operators.closestedge.action"):
            ce_rows = ce.collect()
        t3 = time.perf_counter()
        return {
            "pip": [(r["polygon_id"], r["count"]) for r in pip_rows],
            "knn": [(r["query_id"], r["rank"], r["neighbor_id"], r["chord2"]) for r in knn_rows],
            "ce": [(r["query_id"], r["rank"], r["shape_id"], r["edge_id"], r["chord2"])
                   for r in ce_rows],
        }, [t1 - t0, t2 - t1, t3 - t2]

    def check(self, b: Batch, result) -> list[str]:
        d = b.data
        return (
            checks.check_pip_counts(result["pip"], d["polys"], self.xyz)
            + checks.check_knn(result["knn"], d["qids"], d["qxyz"], self.xyz, self.ids, self.K)
            + checks.check_closest_edges(result["ce"], d["qids"], d["qxyz"], d["polys"])
        )

    def probe_layers(self, spark, b: Batch, t) -> None:
        d = b.data
        queries = tables.load_table(spark, b.dir, "queries")
        probe_boundary(spark, queries, "lat", "lng", d["lat"], d["lng"], t)
        probe_kernels(d["polys"], d["lat"], d["lng"], t)
        loops = [[lp.vertices for lp in p.loops] for p in d["kpolys"].values()]
        t0 = time.perf_counter()
        for lp in loops:
            si.build_shape_index(lp, max_edges_per_cell=10, max_level=20,
                                 min_level=self.EDGE_LEVEL)
        t.note("kernel.shapeindex.build_s", time.perf_counter() - t0)


# -- dedup_corpus ------------------------------------------------------------------

class DedupCorpus:
    """Training-corpus assembly over documents with planted duplicates."""

    name = "dedup_corpus"
    DOCS_PER_CALL = 2_000
    WARMUP_CALLS = 1
    WEIGHTS = {"web": 0.4, "books": 0.2, "news": 0.2, "wiki": 0.2}

    def __init__(self, n_files: int):
        self.n_files = n_files

    @property
    def total(self) -> int:
        return self.DOCS_PER_CALL // 2

    def setup(self, spark, rng, fixed_dir: str) -> dict:
        self.model = gen.TextModel(gen.make_vocab(rng))
        return {"vocab": len(self.model.vocab)}

    def batch(self, rng, i: int, root: str) -> Batch:
        docs = gen.make_dedup_docs(rng, self.model, self.DOCS_PER_CALL)
        write_table(docs.frame(), root, "documents", self.n_files)
        return Batch(i, root, len(docs.doc_id), {"docs": docs})

    def call(self, spark, b: Batch, t):
        t0 = time.perf_counter()
        docs = tables.load_table(spark, b.dir, "documents")
        with t.span("pipeline.corpus"):
            manifest, funnel = corpus.assemble_corpus(spark, docs, self.WEIGHTS, self.total)
        with t.span("pipeline.corpus.action"):
            rows = manifest.collect()
            fun = funnel.collect()
        lat = time.perf_counter() - t0
        funnel = {r["stage"]: r["n"] for r in fun}
        for stage, n in funnel.items():
            t.note(f"pipeline.corpus.funnel.{stage}", n)
        return {"manifest": [(r["doc_id"], r["component"]) for r in rows], "funnel": funnel}, [lat]

    def check(self, b: Batch, result) -> list[str]:
        return checks.check_corpus(result["manifest"], result["funnel"],
                                   b.data["docs"], self.total)

    def probe_layers(self, spark, b: Batch, t) -> list[str]:
        batch = b.data["docs"]
        docs = tables.load_table(spark, b.dir, "documents")
        with t.span("operators.dedup.exact"):
            ex = dedup.exact_duplicates(docs, "doc_id", "text").collect()
        errs = checks.check_exact_groups(
            [(r["id"], r["group_size"], r["canonical_id"]) for r in ex], batch
        )
        with t.span("operators.dedup.near_dup"):
            nd = dedup.near_dup_clusters(docs, "doc_id", "text").collect()
        nd_errs, stats = checks.near_dup_stats([(r["id"], r["component"]) for r in nd], batch)
        for k, v in stats.items():
            t.note(f"operators.dedup.{k}", v)
        with t.span("operators.dedup.pairs"):
            t.note("operators.dedup.candidate_pairs",
                   dedup.lsh_candidate_pairs(docs, "doc_id", "text").count())
        return errs + nd_errs


WORKLOADS = {w.name: w for w in (GeotagDocs, GeoLookup, DedupCorpus)}
