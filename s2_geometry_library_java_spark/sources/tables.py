"""Table sources: parquet now, Iceberg when the catalog is available.

At 100 TB these become Iceberg scans with ``part_cell`` partition columns
(parent cell at the partition level) so region queries prune files via
metadata; locally they are plain parquet reads. Column pruning and filter
pushdown flow through either way because everything downstream is
declarative DataFrame ops.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    fmt = os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "parquet")
    if fmt == "iceberg":  # pragma: no cover - no catalog in the sandbox
        return spark.read.format("iceberg").load(path)
    return spark.read.parquet(path)


