"""Per-query timing harness for optimization work (bench.py is frozen for
driver measurement; this file exists for guide §1.4-style isolation runs).

Usage: python bench_extra.py [query ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
       SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_REPS (default 3),
       SPARK_GRAFT_SINK=count|noop (default count — matches bench.py's
       timed action; noop computes every column per guide §1.4).

Prints one line per query: name, median/min/max seconds, rows (count sink).
"""

from __future__ import annotations

import os

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
           "NUMEXPR_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main():
    from pyspark.sql import SparkSession

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = max(1, int(os.environ.get("SPARK_GRAFT_REPS", "3")))
    sink = os.environ.get("SPARK_GRAFT_SINK", "count")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(8, cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .appName(f"bench-extra-{cpus}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from s2_geometry_library_java_spark import queries as q
    from s2_geometry_library_java_spark.plans import cache

    registry = q.all_queries()
    for extra in ("pip_indexed", "pricing_summary", "nation_revenue"):
        registry.setdefault(extra, getattr(q, f"q_{extra}"))

    names = sys.argv[1:] or list(registry)
    # warm-up: worker pool spawn + codegen JIT (same as bench.py)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    registry[names[0]](spark, sf_dir).count()

    for name in names:
        fn = registry[name]
        samples, n = [], 0
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            with cache.scope():  # each run releases what it held
                df = fn(spark, sf_dir)
                if sink == "noop":
                    df.write.format("noop").mode("overwrite").save()
                else:
                    n = df.count()
            samples.append(time.time() - t0)
            spark.sparkContext.setJobDescription(None)
        print(
            f"{name}: median={statistics.median(samples):.3f}s "
            f"min={min(samples):.3f} max={max(samples):.3f} rows={n}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
