"""G1 at engine scale: boolean ops over TABLES of polygon pairs.

The kernel (kernel/booleanop.py) computes one pair on one core — exactly
like the reference, whose S2BooleanOperation is single-threaded per pair
(S2BooleanOperation.java). The distributed form the booleanop docstring
promises lives here:

1. candidate pairs come from a covering join: each shape's covering cells
   (computed executor-side, operators/shapes.coverings_df) meet the other
   side's in operators/cellindex.intersecting_pairs, whose ancestor
   equi-joins stand for Hilbert-range containment, so a pair is a
   candidate iff the coverings actually intersect (no false negatives by
   covering soundness, no nested-loop range join);
2. the pair kernel runs inside mapInPandas over the candidate pair rows
   (geometry arrives as S2TextFormat columns), emitting the result
   polygon as text plus loop/vertex counts.

Pairs whose coverings do not intersect have empty intersection by
construction and are never materialized — with N x M shapes the join does
the pruning, not a cross product.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..kernel import cellid as s2
from . import cellindex
from .shapes import _parse_polygon, coverings_df
from ..localdf import local_df
from ..plans import cache


SMALL_SHAPES_THRESHOLD = 1000


def candidate_pairs(shapes_a: DataFrame, shapes_b: DataFrame) -> DataFrame:
    """(a_id, b_id) for every pair whose coverings share sphere area —
    the covering-intersection join (a cell of one side contained in a
    cell of the other, tested as ancestor equi-joins both ways).

    When both sides count at most SMALL_SHAPES_THRESHOLD shapes, BOTH
    sides' coverings come from a single distributed coverer pass over the
    union of the shape tables, collected once, and the range-overlap
    pairing runs driver-side on the tiny cell lists — one Python-stage job
    instead of two held covering jobs plus level probes. Larger tables
    never reach that collect: the ancestor equi-join form below stays
    fully distributed."""
    if (
        shapes_a.count() <= SMALL_SHAPES_THRESHOLD
        and shapes_b.count() <= SMALL_SHAPES_THRESHOLD
    ):
        spark = shapes_a.sparkSession
        tagged = shapes_a.select(
            F.concat(F.lit("a|"), F.col("shape_id")).alias("shape_id"), "text"
        ).unionByName(
            shapes_b.select(
                F.concat(F.lit("b|"), F.col("shape_id")).alias("shape_id"), "text"
            )
        )
        rows = coverings_df(tagged.coalesce(1)).collect()
        sides: dict[str, list[tuple[str, int, int]]] = {"a": [], "b": []}
        for r in rows:
            side, sid = r["shape_id"].split("|", 1)
            u = np.uint64(np.int64(r["cell_id"]).view(np.uint64))
            lo = int(np.atleast_1d(s2.range_min(u))[0])
            hi = int(np.atleast_1d(s2.range_max(u))[0])
            sides[side].append((sid, lo, hi))
        pairs = sorted(
            {
                (aid, bid)
                for aid, alo, ahi in sides["a"]
                for bid, blo, bhi in sides["b"]
                if alo <= bhi and blo <= ahi
            }
        )
        # coalesce to the pair count: a driver-local list parallelizes to
        # defaultParallelism slices, and every downstream mapInPandas task
        # costs a Python worker — 32 near-empty workers for 2 pairs is
        # pure scheduling overhead on the pair-kernel stage
        return local_df(spark, 
            pairs or [], "a_id string, b_id string"
        ).coalesce(max(1, min(len(pairs), 32)))
    # held: intersecting_pairs' level probe and both ancestor joins read
    # each covering, and without it the executor coverer runs once per reader
    cov_a = cache.hold(coverings_df(shapes_a).select(
        F.col("shape_id").alias("a_id"), "cell_id"
    ))
    cov_b = cache.hold(coverings_df(shapes_b).select(
        F.col("shape_id").alias("b_id"), "cell_id"
    ))
    pairs = cellindex.intersecting_pairs(
        cov_a, cov_b, label_col="a_id", target_col="cell_id", query_col="b_id"
    )
    return pairs.select(
        F.col("label").alias("a_id"), F.col("query_id").alias("b_id")
    ).distinct()


_PAIR_SCHEMA = (
    "a_id string, b_id string, op string, result string, "
    "n_loops int, n_vertices int"
)

def boolean_pairs(
    shapes_a: DataFrame,
    shapes_b: DataFrame,
    op: str | list[str],
) -> DataFrame:
    """(a_id, b_id, op, result_text, n_loops, n_vertices) for every
    covering-intersecting pair; result is the kernel boolean_op polygon
    (snap-rounding path included, so shared-vertex/edge pairs are fine)
    serialized as S2TextFormat. Runs the pair kernel on executors.

    ``op`` may be a list: all ops are computed in ONE pass over the
    candidate pairs (one mapInPandas stage total — Python stages carry a
    fixed scheduling cost, so multi-op callers should batch)."""
    from ..kernel import booleanop as bo

    ops = [op] if isinstance(op, str) else list(op)
    cand = candidate_pairs(shapes_a, shapes_b)
    ta = F.broadcast(
        shapes_a.select(F.col("shape_id").alias("a_id"), F.col("text").alias("a_text"))
    )
    tb = F.broadcast(
        shapes_b.select(F.col("shape_id").alias("b_id"), F.col("text").alias("b_text"))
    )
    pairs = cand.join(ta, "a_id").join(tb, "b_id")

    cols = ["a_id", "b_id", "op", "result", "n_loops", "n_vertices"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in cols}
            for a_id, b_id, a_text, b_text in zip(
                pdf["a_id"], pdf["b_id"], pdf["a_text"], pdf["b_text"]
            ):
                pa, pb = _parse_polygon(a_text), _parse_polygon(b_text)
                for o in ops:
                    res = bo.boolean_op(pa, pb, o)
                    out["a_id"].append(a_id)
                    out["b_id"].append(b_id)
                    out["op"].append(o)
                    out["result"].append(res.to_text())
                    out["n_loops"].append(len(res.loops))
                    out["n_vertices"].append(
                        sum(len(lp.vertices) for lp in res.loops)
                    )
            yield pd.DataFrame(out)

    return pairs.mapInPandas(gen, _PAIR_SCHEMA)


def polygon_relations(shapes_a: DataFrame, shapes_b: DataFrame) -> DataFrame:
    """(a_id, b_id, contains, contained, intersects) region relations for
    every (A, B) pair — the distributed surface for
    Polygon.contains_polygon / intersects_polygon (S2Polygon.contains /
    intersects semantics, regularized).

    All-pairs form (B broadcast): right for relation GATES and small B
    sets. At scale, pre-prune with candidate_pairs — pairs with disjoint
    coverings are all-false and need no kernel call."""
    ta = shapes_a.select(
        F.col("shape_id").alias("a_id"), F.col("text").alias("a_text")
    )
    tb = F.broadcast(
        shapes_b.select(F.col("shape_id").alias("b_id"), F.col("text").alias("b_text"))
    )
    pairs = ta.crossJoin(tb)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("a_id", "b_id", "contains", "contained", "intersects")}
            for a_id, b_id, a_text, b_text in zip(
                pdf["a_id"], pdf["b_id"], pdf["a_text"], pdf["b_text"]
            ):
                pa, pb = _parse_polygon(a_text), _parse_polygon(b_text)
                out["a_id"].append(a_id)
                out["b_id"].append(b_id)
                out["contains"].append(pa.contains_polygon(pb))
                out["contained"].append(pb.contains_polygon(pa))
                out["intersects"].append(pa.intersects_polygon(pb))
            yield pd.DataFrame(out)

    return pairs.mapInPandas(
        gen,
        "a_id string, b_id string, contains boolean, "
        "contained boolean, intersects boolean",
    )
