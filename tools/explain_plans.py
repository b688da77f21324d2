"""Dump .explain('formatted') for the headline queries into PLANS.md so the
physical shapes (PushedFilters, WholeStageCodegen spans, broadcast joins,
single-shuffle aggs) are reviewable without running Spark."""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
           "NUMEXPR_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    "cellid_encode",
    "tile_counts",
    "pip_contains",
    "pip_convex",
    "pip_indexed",
    "knn_brute",
    "knn_cell",
    "tolerant_pairs",
    "near_polygon",
    "closest_edge",
    "furthest_edge",
    "crossing_pairs",
    "chain_interp",
    "ann_lsh",
    "ann_ivf",
    "minhash_signatures",
    "dedup_clusters",
    "media_tiles",
    "pricing_summary",
    "nation_revenue",
    "boolean_pairs",
    "polygon_relations",
    "buffer_geometry",
    "winding_union",
    "pip_models",
    "region_terms",
    "convex_hull",
]


def main(sf_dir="/root/testdata/sf0.01"):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from s2_geometry_library_java_spark import queries as q

    reg = q.all_queries()
    # Components of merged gates, dumped individually for plan review.
    for extra in ("pip_convex", "pip_indexed", "pricing_summary", "nation_revenue"):
        reg.setdefault(extra, getattr(q, f"q_{extra}"))
    out = ["# Physical plans (auto-generated by tools/explain_plans.py)\n"]
    for name in QUERIES:
        df = reg[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"\n## {name}\n\n```\n{buf.getvalue().strip()}\n```\n")
    with open("PLANS.md", "w") as f:
        f.write("".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main(*sys.argv[1:])
