"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

The headline metric is the flagship spatial-join + tiling pipeline's
docs/sec (reported inside "queries" as docs_per_sec) with `value` = total
wall seconds across the suite. Run tools/scaling_run.py for the N vs 4N
parallelism efficiency report (BENCH/BASELINE.md).
"""

from __future__ import annotations

import os

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
           "NUMEXPR_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "cellid_encode",
    "tile_counts",
    "pip_contains",
    "pip_indexed",
    "knn_cell",
    "tolerant_pairs",
    "near_polygon",
    "closest_edge",
    "media_tiles",
    "span_invariant",
    "minhash_signatures",
    "simhash",
    "ann_topk",
    "ann_lsh",
    "doc_stats",
    "pricing_summary",
    "nation_revenue",
    # round 3 additions
    "convex_hull",
    "buffer_geometry",
    "boolean_pairs",
    # round 4 additions
    "furthest_edge",
    "ann_ivf",
    # round 5 additions
    "dedup_clusters",
    "dedup_exact",
    "relational_suite",
]


def run(sf_dir: str, cpus: int, extra_conf: dict | None = None):
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(8, cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .appName(f"bench-{cpus}")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import statistics

    from s2_geometry_library_java_spark import queries as q
    from s2_geometry_library_java_spark.plans import cache

    registry = q.all_queries()
    # Some benchmarked paths are components of merged driver gates
    # (pip_indexed inside pip_variants, pricing/nation inside
    # relational_suite) — time them individually via their functions.
    for extra in ("pip_indexed", "pricing_summary", "nation_revenue"):
        registry.setdefault(extra, getattr(q, f"q_{extra}"))
    # Untimed warm-up: spin up the Python worker pool (numpy + package
    # import per worker) and JIT the Arrow/codegen paths, so per-query
    # timings measure the OPERATOR, not one-time worker spawn. The
    # reference baseline is steady-state single-node throughput, so this
    # is the comparable regime (disclosed in BENCH/BASELINE.md).
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    registry["cellid_encode"](spark, sf_dir).count()

    # Median of REPS runs per query so BENCH_r{N} captures steady state
    # instead of sampling one host-throttling phase (round-4 verdict #7:
    # identical code measured 2-5x apart across phases on this host).
    reps = max(1, int(os.environ.get("SPARK_GRAFT_REPS", "3")))
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = registry[name]
        samples = []
        n = 0
        for _ in range(reps):
            # each rep in its own cache scope: a rep never reads the blocks
            # an earlier rep held
            t0 = time.time()
            with cache.scope():
                df = fn(spark, sf_dir)
                n = df.count()
            samples.append(time.time() - t0)
        timings[name] = round(statistics.median(samples), 3)
        if reps > 1:
            timings[f"{name}_min"] = round(min(samples), 3)
            timings[f"{name}_max"] = round(max(samples), 3)
        timings[f"{name}_rows"] = n

    # flagship docs/sec: the full interleaved-document pipeline
    # (spans -> geotag -> tile -> PIP -> rollup) per source document.
    from pyspark.sql import functions as F

    from s2_geometry_library_java_spark.operators import pip, tiling
    from s2_geometry_library_java_spark.sources import docs as docsrc
    from s2_geometry_library_java_spark.sources import tables

    documents = tables.load_table(spark, sf_dir, "documents")
    n_docs = documents.count()
    flagship_samples = []
    flagship_rows = 0
    for _rep in range(reps):
        t0 = time.time()
        with cache.scope():
            d = docsrc.with_spans(documents)
            spans = docsrc.geotagged_media_spans(d)
            tiled = tiling.tile_points(spans, level=12)
            hits = pip.pip_join(
                spark,
                tiled.select(
                    F.concat_ws("_", "doc_id", "offset").alias("span_key"),
                    "lat", "lng", "leaf",
                ),
                q.pip_polygons(),
                point_id="span_key",
                leaf_col="leaf",
            ).withColumnRenamed("point_id", "span_key")
            flagship_rows = (
                tiled.withColumn("span_key", F.concat_ws("_", "doc_id", "offset"))
                .join(hits, "span_key", "left")
                .groupBy("tile", "polygon_id")
                .agg(
                    F.count("*").alias("n_spans"),
                    F.count_distinct("doc_id").alias("n_docs"),
                )
                .count()
            )
        flagship_samples.append(time.time() - t0)
    flagship_sec = statistics.median(flagship_samples)
    timings["flagship_pipeline"] = round(flagship_sec, 3)
    if reps > 1:
        timings["flagship_pipeline_min"] = round(min(flagship_samples), 3)
        timings["flagship_pipeline_max"] = round(max(flagship_samples), 3)
    timings["flagship_rows"] = flagship_rows
    timings["docs_per_sec"] = round(n_docs / flagship_sec, 1)

    total = round(
        sum(
            v
            for k, v in timings.items()
            if not k.endswith(("_rows", "per_sec", "_min", "_max"))
        ),
        3,
    )
    spark.stop()
    return total, timings, n_docs


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    total, timings, n_docs = run(sf_dir, cpus)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    print(
        json.dumps(
            {
                "metric": "spatial-join+tiling suite wall time (flagship docs/sec in queries.docs_per_sec)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf),
                "cpus": cpus,
                "n_docs": n_docs,
            }
        )
    )


if __name__ == "__main__":
    main()
