"""Cell-union set algebra as DataFrame operators (S2CellUnion.java:510-656).

A cell union at engine scale is a DataFrame of cells — one row per cell,
with biased range columns — not an in-memory array. The reference's linear
merges over sorted ranges become window functions and range joins:

* ``normalize_df``     — drop contained cells (sorted cummax window), then
                         collapse complete sibling groups to parents
                         (window over parent, 4 distinct children), iterated.
* ``intersection_df``  — for normalized inputs, overlapping cells nest, so
                         the intersection keeps the SMALLER cell of each
                         overlapping pair (range join + pick larger rmin).
* ``difference_df``    — cells of A disjoint from B pass through; cells of
                         A partially covered by B descend to children
                         (kernel explode) and recurse a bounded number of
                         levels — the reference's recursion
                         (S2CellUnion.java:635-656) unrolled as joins.

Driver-side (small coverings) use kernel.coverer.union_normalize instead;
these operators exist for global cell sets too big for one machine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import columns as cc


def _with_ranges(df: DataFrame) -> DataFrame:
    return df.select(
        "cell_id",
        cc.range_min_biased("cell_id").alias("rmin_b"),
        cc.range_max_biased("cell_id").alias("rmax_b"),
    )


def drop_contained_df(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Remove cells contained in another cell: in (range_min asc, range_max
    desc) order a row is contained iff its range_max <= the running max of
    prior rows' range_max.

    Scale shape (no single-task global sort): repartitionByRange on the
    biased range_min + per-partition sort, a TINY per-partition max
    aggregate collected to the driver (one row per partition) whose prefix
    max becomes each partition's carry-in, then a streaming per-partition
    cummax filter (Arrow batches, numpy accumulate) — the two-pass
    distributed cummax. Equal range_min keys land in one partition, so the
    carry-in is exact.
    """
    ranged = _with_ranges(df)
    n = num_partitions or ranged.sparkSession.sparkContext.defaultParallelism
    part = (
        ranged.repartitionByRange(n, F.asc("rmin_b"))
        .sortWithinPartitions(F.asc("rmin_b"), F.desc("rmax_b"))
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin partition ids across the 2 passes
    )
    stats = part.groupBy("pid").agg(F.max("rmax_b").alias("pmax")).collect()
    carry: dict[int, int] = {}
    run: int | None = None
    for r in sorted(stats, key=lambda r: r["pid"]):
        if run is not None:
            carry[int(r["pid"])] = run
        run = int(r["pmax"]) if run is None else max(run, int(r["pmax"]))
    int64_min = -(2**63)

    def gen(batches):
        import numpy as _np
        import pandas as _pd

        prev: int | None = None
        first = True
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if first:
                prev = carry.get(int(pdf["pid"].iloc[0]), int64_min)
                first = False
            rmax = pdf["rmax_b"].to_numpy(_np.int64)
            full = _np.maximum.accumulate(
                _np.concatenate(([_np.int64(prev)], rmax))
            )
            keep = rmax > full[:-1]
            prev = int(full[-1])
            yield _pd.DataFrame({"cell_id": pdf["cell_id"].to_numpy(_np.int64)[keep]})

    return part.mapInPandas(gen, "cell_id long")


def collapse_siblings_df(df: DataFrame, rounds: int = 4) -> DataFrame:
    """Replace complete 4-sibling groups by their parent, ``rounds`` times
    (rounds=30 is the exact fixpoint, 4 suffices for coverings whose input
    depth is bounded). Each round reads its input once: a window over the
    parent id counts its distinct children, the rows of a group of 4 map
    to the parent, and a distinct folds the group — so the plan grows
    linearly in ``rounds``."""
    siblings = Window.partitionBy("parent_id")
    out = df.select("cell_id")
    for _ in range(rounds):
        lvl = cc.level("cell_id")
        parent = F.when(lvl > 0, cc.parent("cell_id", F.greatest(lvl - 1, F.lit(0))))
        complete = F.col("parent_id").isNotNull() & (
            F.size(F.collect_set("cell_id").over(siblings)) == 4
        )
        out = (
            out.withColumn("parent_id", parent)
            .select(
                F.when(complete, F.col("parent_id")).otherwise(F.col("cell_id")).alias("cell_id")
            )
            .distinct()
        )
    return out


def normalize_df(df: DataFrame, rounds: int = 4) -> DataFrame:
    return collapse_siblings_df(drop_contained_df(df), rounds)


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


def difference_df(a: DataFrame, b: DataFrame, max_rounds: int = 30) -> DataFrame:
    """Cells covering A \\ B exactly (S2CellUnion.getDifference :635-656).

    Iterative refinement instead of recursion: cells of A disjoint from B
    pass through; cells contained in a B cell drop; partially-overlapped
    non-leaf cells explode into their 4 children and re-enter the loop.
    Each round is one broadcast range join; lineage is truncated per round
    (localCheckpoint) so the plan stays constant-size regardless of depth.
    """
    rb = F.broadcast(
        _with_ranges(b).select(
            F.col("rmin_b").alias("b_rmin"), F.col("rmax_b").alias("b_rmax")
        )
    )
    kept_parts = []
    frontier = a.select("cell_id")
    # A level-0 cell of A overlapped by a leaf-level B cell needs 30 splits
    # and 31 classification passes; the loop runs until the frontier drains
    # (bounded: to_split excludes leaves, so depth <= MAX_LEVEL splits) and
    # raises rather than silently dropping an unclassified frontier.
    for round_no in range(max_rounds + 1):
        fr = _with_ranges(frontier).localCheckpoint(eager=True)
        tagged = (
            fr.join(
                rb,
                (F.col("rmin_b") <= F.col("b_rmax"))
                & (F.col("rmax_b") >= F.col("b_rmin")),
                "left",
            )
            .groupBy("cell_id")
            .agg(
                F.max(
                    F.when(
                        (F.col("b_rmin") <= F.col("rmin_b"))
                        & (F.col("rmax_b") <= F.col("b_rmax")),
                        2,
                    )
                    .when(F.col("b_rmin").isNotNull(), 1)
                    .otherwise(0)
                ).alias("verdict")
            )
            .localCheckpoint(eager=True)
        )
        kept_parts.append(tagged.where(F.col("verdict") == 0).select("cell_id"))
        to_split = tagged.where((F.col("verdict") == 1) & ~cc.is_leaf("cell_id"))
        if to_split.isEmpty():
            break
        if round_no == max_rounds:
            raise RuntimeError(
                "difference_df: frontier not drained after "
                f"{max_rounds} refinement rounds (max_rounds too small)"
            )
        t = (
            to_split.withColumn("_lvl", cc.level("cell_id") + 1)
            .withColumn("_cb", cc.child_begin("cell_id", F.col("_lvl")))
            .withColumn("_step", cc.lsb_for_level(F.col("_lvl")) * 2)
        )
        frontier = t.select(
            F.explode(
                F.array(*[F.col("_cb") + F.lit(k) * F.col("_step") for k in range(4)])
            ).alias("cell_id")
        )
    out = kept_parts[0]
    for part in kept_parts[1:]:
        out = out.unionByName(part)
    return normalize_df(out)
