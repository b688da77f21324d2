"""Density-driven partitioning: the engine's answer to skewed hot cells.

Reimplements the *intent* of S2DensityTree.getPartitioning
(S2DensityTree.java:329-349) and S2DensityClusterQuery
(S2DensityClusterQuery.java:48-94) in DataFrame terms:

1. roll up leaf weights per cell at a chosen level (density_histogram);
2. collect the (tiny) per-cell histogram to the driver and walk it in
   Hilbert order, emitting equal-weight contiguous cell-range boundaries;
3. repartitionByRange on the biased cell id against those boundaries, so
   each Spark partition holds one contiguous equal-weight Hilbert range —
   explicit spatial partitioning with bounded skew;
4. for cells heavier than a whole target partition ('hot metros'), a salt
   column spreads the cell across ``ceil(weight/target)`` subpartitions
   (broadcast-side replication is the join-side dual).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from ..functions import columns as cc
from ..kernel import cellid as s2


def equal_weight_boundaries(
    density_rows: list[tuple[int, int]], n_partitions: int
) -> list[int]:
    """Equal-weight split of a (cell_id, weight) histogram walked in
    Hilbert (biased) order; returns n_partitions-1 biased boundary ids.

    Cells heavier than the remaining target are split FRACTIONALLY along
    their own leaf range (S2DensityClusterQuery.CellInterpolator,
    S2DensityClusterQuery.java:498-504: a boundary at ratio t of a cell
    is range_min + ceil(t * range_len), assuming uniform weight within
    the cell — the same interpolation the reference's cluster() uses at
    :344-369). A one-hot-metro cell therefore yields several boundaries
    INSIDE its range instead of one oversized partition."""
    if not density_rows:
        return []
    rows = sorted(
        (int(s2.to_biased(np.uint64(c))[0]), int(w)) for c, w in density_rows
    )
    total = sum(w for _, w in rows)
    target = max(1, total / n_partitions)
    boundaries: list[int] = []
    acc = 0.0
    for cid_b, w in rows:
        lsb = cid_b & -cid_b
        rmin, rmax = cid_b - (lsb - 1), cid_b + (lsb - 1)
        length = rmax - rmin + 1
        t = 0.0  # fraction of this cell already assigned left of a boundary
        while len(boundaries) < n_partitions - 1 and acc + w * (1.0 - t) >= target:
            t += (target - acc) / w
            b = rmin - 1 + int(np.ceil(min(t, 1.0) * length))
            if not boundaries or b > boundaries[-1]:
                boundaries.append(b)
            acc = 0.0
        acc += w * (1.0 - t)
    return boundaries


def density_histogram(df: DataFrame, leaf_col: str, level: int) -> list[tuple[int, int]]:
    """(cell_id_at_level, weight) collected to the driver — rows are at most
    6*4^level, and the level is chosen so this is thousands, not millions."""
    rows = (
        df.select(cc.parent(leaf_col, level).alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").alias("w"))
        .collect()
    )
    return [(int(np.uint64(np.int64(r["cell"]))), int(r["w"])) for r in rows]


def density_tree_histogram(
    df: DataFrame,
    leaf_col: str,
    base_level: int,
    target_weight: float,
) -> list[tuple[int, int]]:
    """Multi-level density histogram (S2DensityTree.java's ancestor-closed
    tree, flattened to its leaves): cells heavier than ``target_weight``
    are refined two levels at a time until light enough or level 18,
    so a hot metro contributes MANY small cells instead of one opaque
    heavy cell — uniform-weight interpolation inside the remaining leaves
    is then a good approximation (the reference's CellInterpolator is
    likewise only consulted below its tree's leaves).

    Each refinement round is one aggregation scan filtered to the heavy
    cells' descendants (predicate on parent(leaf), pushed to the scan);
    the collected row count grows by at most 16x the number of heavy
    cells per round."""
    cur: dict[int, int] = dict(density_histogram(df, leaf_col, base_level))
    level = base_level
    while level < 18:
        heavy = [
            c for c, w in cur.items()
            if w > target_weight and int(s2.level(np.uint64(c))) == level
        ]
        if not heavy:
            break
        child_level = min(level + 2, 18)
        heavy_signed = [int(np.int64(np.uint64(c))) for c in heavy]
        sub = df.where(
            cc.parent(leaf_col, level).isin(heavy_signed)
        )
        children = density_histogram(sub, leaf_col, child_level)
        for c in heavy:
            del cur[c]
        for c, w in children:
            cur[c] = cur.get(c, 0) + w
        level = child_level
    return sorted(cur.items())


def repartition_by_hilbert_range(
    df: DataFrame, leaf_col: str, n_partitions: int, histogram_level: int = 8
) -> DataFrame:
    """Explicit equal-weight spatial partitioning. At 100 TB this is the
    table layout step before writing a sorted/bucketed Iceberg table: one
    pass for the histogram, one shuffle for the layout."""
    base = density_histogram(df, leaf_col, histogram_level)
    total = sum(w for _, w in base)
    if total == 0:
        return df.repartition(n_partitions)
    # refine heavy cells (tree leaves) before interpolating inside them
    hist = density_tree_histogram(
        df, leaf_col, histogram_level, target_weight=total / n_partitions
    )
    boundaries = equal_weight_boundaries(hist, n_partitions)
    if not boundaries:
        return df.repartition(n_partitions)
    b = cc.biased(leaf_col)
    # partition index = number of boundaries below the biased id; a literal
    # sum of comparisons stays in codegen and needs no UDF or join.
    part: Column = sum(
        (b > F.lit(x)).cast("int") for x in boundaries
    )  # type: ignore[assignment]
    # Exact index -> partition placement: hash partitioning on the raw
    # index collides distinct equal-weight buckets (pmod(murmur3(i), n)
    # is not injective on 0..n-1) and repartitionByRange merges adjacent
    # indices when its sampler draws duplicates. Instead, probe Spark's
    # own partitioning hash (Murmur3 seed 42 = F.hash) for one preimage
    # per partition id and remap the index through that literal array —
    # each equal-weight bucket then lands in exactly one partition.
    spark = df.sparkSession
    probes = spark.range(0, 64 * n_partitions).select(
        "id", F.pmod(F.hash("id"), F.lit(n_partitions)).alias("p")
    ).collect()
    preimage: dict[int, int] = {}
    for r in probes:
        preimage.setdefault(int(r["p"]), int(r["id"]))
    salts = F.array(
        *[F.lit(preimage[i]).cast("long") for i in range(n_partitions)]
    )
    key = F.element_at(salts, (part + 1).cast("int"))
    return df.repartition(n_partitions, key)


def with_hot_cell_salt(
    df: DataFrame, leaf_col: str, level: int, max_rows_per_cell: int,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Adds (cell, salt): rows in cells with > max_rows_per_cell rows get a
    deterministic salt in [0, ceil(n/max)) — the build-side of a salted
    join replicates instead.

    The salt hashes ``salt_cols`` (default: every input column), NOT the
    leaf cell id: many rows share a leaf id in the common skew case (all
    records at one coordinate), and a leaf-derived salt would send the
    whole hot cell to one subpartition."""
    cell = cc.parent(leaf_col, level)
    counts = df.select(cell.alias("cell")).groupBy("cell").agg(F.count("*").alias("n"))
    fanout = counts.select(
        "cell",
        F.ceil(F.col("n") / max_rows_per_cell).cast("int").alias("n_salts"),
    )
    salt_src = [F.col(c) for c in (salt_cols or df.columns)]
    out = df.withColumn("cell", cell).join(F.broadcast(fanout), "cell", "left")
    return out.withColumn(
        "salt",
        F.when(
            F.col("n_salts") > 1,
            F.pmod(F.xxhash64(*salt_src), F.col("n_salts")).cast("int"),
        ).otherwise(F.lit(0)),
    )
