"""Checkpoint-resumable batch pipeline with per-partition lineage + metrics.

Per the north rule: every stage writes parquet + _SUCCESS plus a lineage
record ``(stage, partition_id, rows_out, input_fingerprint, skew_factor)``;
re-running the pipeline skips any stage whose checkpoint exists and whose
recorded input fingerprint matches — batch-level resume, exactly the
reference-free design sketched in SURVEY.md §7.5 (the reference library has
no execution engine; this is engine-native infrastructure).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F


class CheckpointedPipeline:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "_lineage"), exist_ok=True)

    def _lineage_path(self, stage: str) -> str:
        return os.path.join(self.root, "_lineage", f"{stage}.json")

    def _data_path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def lineage(self, stage: str) -> dict | None:
        try:
            with open(self._lineage_path(stage)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def stage(
        self,
        name: str,
        fn: Callable[[], DataFrame],
        input_fingerprint: str,
        rows_in: int | None = None,
        cells_col: str | None = None,
    ) -> DataFrame:
        """Run-or-resume one stage.

        fingerprint semantics: the caller passes a deterministic digest of
        the stage's inputs (upstream stage fingerprints + parameters); a
        matching digest on disk means the checkpoint is valid and the stage
        is skipped entirely (metadata-only read).

        ``rows_in`` (caller-supplied input cardinality) and ``cells_col``
        (the stage's emitted S2 cell-id column, if any) feed the lineage
        record's rows-in / cells-emitted metrics; cell counts ride the same
        per-partition aggregation pass as rows_out (no extra shuffle).
        """
        data_path = self._data_path(name)
        prior = self.lineage(name)
        success = os.path.exists(os.path.join(data_path, "_SUCCESS"))
        if prior is not None and success and prior.get("input_fingerprint") == input_fingerprint:
            return self.spark.read.parquet(data_path)

        fn().write.mode("overwrite").parquet(data_path)

        out = self.spark.read.parquet(data_path)
        aggs = [F.count("*").alias("rows_out")]
        if cells_col is not None and cells_col in out.columns:
            aggs.append(F.count(cells_col).alias("cells_emitted"))
            aggs.append(
                F.approx_count_distinct(cells_col).alias("cells_distinct")
            )
        # rollup = per-partition rows PLUS one grand-total row (null
        # partition_id) in the same pass: the total row carries the global
        # HLL distinct estimate, the detail rows feed the skew factor
        all_rows = (
            out.withColumn("partition_id", F.spark_partition_id())
            .rollup("partition_id")
            .agg(*aggs)
            .collect()
        )
        per_part = [r for r in all_rows if r["partition_id"] is not None]
        grand = next(r for r in all_rows if r["partition_id"] is None)
        rows = [(int(r["partition_id"]), int(r["rows_out"])) for r in per_part]
        total = int(grand["rows_out"]) or 1
        mean = total / max(len(rows), 1)
        skew = (max((r for _, r in rows), default=0) / mean) if mean else 0.0
        has_cells = cells_col is not None and cells_col in out.columns
        cells_emitted = int(grand["cells_emitted"]) if has_cells else None
        # global HLL estimate (~2% rsd) — a lineage metric, not a result
        cells_distinct = int(grand["cells_distinct"]) if has_cells else None
        record = {
            "stage": name,
            "input_fingerprint": input_fingerprint,
            "rows_in": rows_in,
            "rows_out": total,
            "cells_emitted": cells_emitted,
            "cells_distinct_est": cells_distinct,
            "n_partitions": len(rows),
            "skew_factor": round(skew, 3),
            "partitions": rows,
            "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        with open(self._lineage_path(name), "w") as f:
            json.dump(record, f)
        return out

    def metrics(self) -> DataFrame:
        """All lineage records as a DataFrame (the pipeline metrics table)."""
        recs = []
        ldir = os.path.join(self.root, "_lineage")
        for fn in sorted(os.listdir(ldir)):
            with open(os.path.join(ldir, fn)) as f:
                r = json.load(f)
            recs.append(
                (
                    r["stage"],
                    r["input_fingerprint"],
                    r.get("rows_in"),
                    r["rows_out"],
                    r.get("cells_emitted"),
                    r.get("cells_distinct_est"),
                    r["n_partitions"],
                    float(r["skew_factor"]),
                    r["completed_at"],
                )
            )
        return self.spark.createDataFrame(
            recs,
            "stage string, input_fingerprint string, rows_in long, "
            "rows_out long, cells_emitted long, cells_distinct_est long, "
            "n_partitions int, skew_factor double, completed_at string",
        )
