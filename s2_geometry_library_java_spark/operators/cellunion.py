"""Cell-union set algebra as DataFrame operators (S2CellUnion.java:510-656).

A cell union at engine scale is a DataFrame of cells — one row per cell,
with biased range columns — not an in-memory array. The reference's linear
merges over sorted ranges become range joins:

* ``intersection_df``    — for normalized inputs, overlapping cells nest, so
                           the intersection keeps the SMALLER cell of each
                           overlapping pair (range join + pick larger rmin).
* ``contains_points_df`` — a broadcast semi-join of leaf ids against the
                           union's cells, one parent column per level.

Driver-side (small coverings) use kernel.coverer.union_normalize instead;
these operators exist for global cell sets too big for one machine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import columns as cc


def _with_ranges(df: DataFrame) -> DataFrame:
    return df.select(
        "cell_id",
        cc.range_min_biased("cell_id").alias("rmin_b"),
        cc.range_max_biased("cell_id").alias("rmax_b"),
    )


def intersection_df(a: DataFrame, b: DataFrame) -> DataFrame:
    """For NORMALIZED unions: any overlapping pair nests, and the smaller
    cell is the intersection piece (S2CellUnion.getIntersection keeps it)."""
    ra = _with_ranges(a).alias("a")
    rb = _with_ranges(b).alias("b")
    pairs = ra.join(
        rb,
        (F.col("a.rmin_b") <= F.col("b.rmax_b")) & (F.col("a.rmax_b") >= F.col("b.rmin_b")),
    )
    # overlapping cells of normalized unions NEST; "a is the smaller" iff
    # its range is strictly inside on either end (left-aligned nesting
    # shares range_min, right-aligned shares range_max — compare both).
    smaller = F.when(
        (F.col("a.rmin_b") > F.col("b.rmin_b")) | (F.col("a.rmax_b") < F.col("b.rmax_b")),
        F.col("a.cell_id"),
    ).otherwise(F.col("b.cell_id"))
    return pairs.select(smaller.alias("cell_id")).distinct()


def contains_points_df(union: DataFrame, points: DataFrame, leaf_col: str) -> DataFrame:
    """Semi-join: rows of ``points`` whose leaf id lies in the union.
    The union side is normally tiny -> broadcast; the point table never
    shuffles (C5: containment is a JOIN, not a kernel)."""
    levels_df = union.select(cc.level("cell_id").alias("lvl")).distinct()
    levels = [r["lvl"] for r in levels_df.collect()]
    cand = points.withColumn(
        "_cand", F.explode(F.array(*[cc.parent(leaf_col, int(lv)) for lv in levels]))
    )
    return (
        cand.join(
            F.broadcast(union.select(F.col("cell_id").alias("_cand"))), "_cand", "leftsemi"
        )
        .drop("_cand")
        .distinct()
    )
