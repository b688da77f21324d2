"""S2CellIndex as DataFrame joins: a (cellId, label) multimap queried by
stabbing targets — which index cells intersect a target cell? Two S2 cells
intersect iff one CONTAINS the other (leaf ranges are nested or disjoint),
so the range-stabbing iterator of the reference (S2CellIndex.java:60
ContentsIterator, :170 RangeNode tree; getIntersectingLabels /
visitIntersectingCells :225-280) decomposes into two ancestor equi-joins:

1. index-contains-target: explode each target to its ancestors at every
   level present in the index and equi-join on the cell id;
2. target-contains-index (strictly deeper index cells): explode each index
   cell to its ancestors at every level present in the targets.

Both joins are keyed hash joins on int64 cell ids — no range join, no
broadcast requirement; the explode factor is bounded by the number of
distinct LEVELS (<= 31), collected driver-side like the kNN ring levels.
One collect of (side, level) pairs probes both sides' level sets. The
reference's "each (cellId, label) pair visited at most once" guarantee
(ContentsIterator visited-node dedup) is the final dropDuplicates.

This module owns "cell intersects cell" when both sides are DataFrames:
the S2CellIndex gate, ``intersection`` (S2CellUnion.getIntersection, D10)
and booleanops' distributed candidate pairs all build on
``intersecting_pairs``. Leaf-in-covering against driver-side rows is
operators/pip.candidate_join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions import columns as cc


def _ancestors_at(col: str, levels: list[int], strict: bool) -> Column:
    """array<struct<lvl,anc>> of this cell's ancestors at the given levels
    (lvl < level(col) when strict, else lvl <= level(col))."""
    if not levels:  # the other side is empty: F.array() alone is array<void>
        return F.array().cast("array<struct<lvl:int,anc:bigint>>")
    own = cc.level(col)
    entries = F.array(
        *[
            F.struct(
                F.lit(lv).cast("int").alias("lvl"),
                cc.parent(col, F.lit(lv)).alias("anc"),
            )
            for lv in levels
        ]
    )
    cond = (lambda s: s["lvl"] < own) if strict else (lambda s: s["lvl"] <= own)
    return F.filter(entries, cond)


def intersecting_pairs(
    index: DataFrame,
    targets: DataFrame,
    cell_col: str = "cell_id",
    label_col: str = "label",
    target_col: str = "target",
    query_col: str = "query_id",
) -> DataFrame:
    """(query_id, cell_id, label): every (cellId, label) pair of the index
    that intersects the query's target cell, each pair at most once per
    query (S2CellIndex.visitIntersectingCells semantics; distinct labels
    per query = getIntersectingLabels)."""
    idx = index.select(
        F.col(cell_col).alias("cell_id"), F.col(label_col).alias("label")
    )
    tgt = targets.select(
        F.col(query_col).alias("query_id"), F.col(target_col).alias("target")
    )
    # <= 62 rows: both sides' level sets, tagged by side, in one collect
    probe = idx.select(F.lit(0).alias("side"), cc.level("cell_id").alias("lvl"))
    probe = probe.unionByName(
        tgt.select(F.lit(1).alias("side"), cc.level("target").alias("lvl"))
    )
    side_levels = sorted((r["side"], r["lvl"]) for r in probe.distinct().collect())
    idx_levels = [int(lv) for side, lv in side_levels if side == 0]
    tgt_levels = [int(lv) for side, lv in side_levels if side == 1]
    # 1. index cell contains (or equals) the target
    t_anc = (
        tgt.withColumn(
            "s", F.explode(_ancestors_at("target", idx_levels, strict=False))
        )
        .select("query_id", F.col("s.anc").alias("cell_id"))
    )
    contains_t = t_anc.join(idx, "cell_id").select("query_id", "cell_id", "label")
    # 2. target strictly contains the (deeper) index cell
    i_anc = (
        idx.withColumn(
            "s", F.explode(_ancestors_at("cell_id", tgt_levels, strict=True))
        )
        .select("cell_id", "label", F.col("s.anc").alias("target"))
    )
    contains_i = i_anc.join(tgt, "target").select("query_id", "cell_id", "label")
    return contains_t.unionByName(contains_i).dropDuplicates(
        ["query_id", "cell_id", "label"]
    )


def intersection(a: DataFrame, b: DataFrame) -> DataFrame:
    """(cell_id) intersection of two NORMALIZED cell unions
    (S2CellUnion.getIntersection): intersecting cells of normalized unions
    nest, so each pair contributes its deeper cell."""
    pairs = intersecting_pairs(
        a, b, label_col="cell_id", target_col="cell_id", query_col="cell_id"
    )
    deeper = F.when(
        cc.level("cell_id") >= cc.level("query_id"), F.col("cell_id")
    ).otherwise(F.col("query_id"))
    return pairs.select(deeper.alias("cell_id")).distinct()
