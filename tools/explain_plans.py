"""Dump .explain('formatted') for the headline queries into PLANS.md so the
physical shapes (PushedFilters, WholeStageCodegen spans, broadcast joins,
single-shuffle aggs) are reviewable without running Spark.

Usage:
  python tools/explain_plans.py [SF_DIR]
      every QUERIES plan into PLANS.md
  python tools/explain_plans.py SF_DIR --per-query OUT_DIR SUFFIX [NAME ...]
      one OUT_DIR/<name>_<SUFFIX>.txt per query (default: QUERIES), a
      failed plan build recorded in its file; run it from two checkouts
      with SUFFIX before / after to diff a change's plans.

The engine is imported from the checkout that holds this script. Plans
are built, not run; operators whose plan construction runs routing jobs
execute those small jobs.
"""

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
    spark, reg = _session_and_registry()
    out = ["# Physical plans (auto-generated by tools/explain_plans.py)\n"]
    for name in QUERIES:
        out.append(f"\n## {name}\n\n```\n{_plan(reg[name](spark, sf_dir)).strip()}\n```\n")
    with open("PLANS.md", "w") as f:
        f.write("".join(out))
    print("wrote PLANS.md")
    spark.stop()


def dump_per_query(sf_dir, out_dir, suffix, *names):
    spark, reg = _session_and_registry()
    os.makedirs(out_dir, exist_ok=True)
    for name in names or QUERIES:
        try:
            text = _plan(reg[name](spark, sf_dir))
        except Exception as e:  # record the failure rather than abort the dump
            text = f"ERROR building plan: {type(e).__name__}: {e}\n"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(text)
        print(f"dumped {name}_{suffix}", flush=True)
    spark.stop()


def _session_and_registry():
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
    for extra in ("pip_indexed", "pricing_summary", "nation_revenue"):
        reg.setdefault(extra, getattr(q, f"q_{extra}"))
    return spark, reg


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


if __name__ == "__main__":
    if "--per-query" in sys.argv:
        i = sys.argv.index("--per-query")
        dump_per_query(*sys.argv[1:i], *sys.argv[i + 1:])
    else:
        main(*sys.argv[1:])
