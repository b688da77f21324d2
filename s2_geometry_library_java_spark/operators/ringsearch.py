"""Exact top-k search shared by kNN and closest/furthest edges.

The DataFrame form of the reference's shared search base
(S2BestEdgesQueryBase under S2ClosestPointQuery and
S2Closest/FurthestEdgeQuery: a queue of index cells whose distance limit
shrinks as results arrive). A caller supplies three things:

* its keyed index — its items keyed by ``cell`` at each probed ``lvl``
  (points by parent(leaf, lvl), edges by parent(cell_id, lvl));
* its score — a chord2 Column over the query point (qx, qy, qz) and the
  item columns;
* its item id columns, which break distance ties and deduplicate
  candidates (an edge sits in several ring cells).

``search`` composes the whole query as ONE lazy plan:

1. ring rounds: each query probes its level-``lvl`` cell plus the 8 ring
   neighbours (kernel A13) and equi-joins the keyed index;
2. top-k per query by (chord2, ids);
3. completeness: a query is finished when it has k results and its k-th
   chord2 is below MIN_WIDTH(lvl). Anything outside the 3x3 ring is at
   least that far: a geodesic leaving the ring crosses a whole neighbour
   cell, whose width is at least the level's minimum;
4. split: an anti-join keeps the unfinished queries, which retry
   FALLBACK_LEVEL_STEP levels coarser. Level-0 rings (a 3x3 block of cube
   faces, most of the sphere) never run;
5. exact pass: the unfinished remnant against every item. With no ring
   level at all (a tiny index) the index is the broadcast side; after ring
   rounds the remnant is.

There are no driver-side round-trips: a round whose input is empty adds an
empty union branch, which AQE's empty-relation propagation prunes.

Routes, in this order (the caller's ring levels, then ``local_queries``):

1. no ring level (a tiny index) runs ``search``'s exact pass alone;
2. |queries| x |items| <= LOCAL_PAIRS_MAX ships the queries to
   ``local_topk``, ONE mapInArrow over the items whose partitions keep
   their local top-k, merged by one Exchange (no bound, no rounds,
   nothing held);
3. furthest edges only: the covering seed (closestedge) on a large edge
   set sends the queries far from the whole index to a covering-pruned
   pass, and the rest to the ring rounds;
4. anything else takes the ring rounds.

Of these routes only the ring rounds (and the covering seed in front of
them) hold cached intermediates (plans/cache.py): here the query input and
each round's top-k. Run the action inside ``cache.scope()`` and they are
released when it ends.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import DoubleType, StructField, StructType

from ..functions import columns as cc
from ..functions import udfs
from ..kernel import cellid as s2
from ..kernel import sphere
from ..localdf import local_df
from ..plans import cache

#: levels an unfinished query's ring coarsens by before its next round
FALLBACK_LEVEL_STEP = 3
#: ring rounds before the exact pass takes the remnant
MAX_ROUNDS = 3
#: |queries| x |items| pairs up to which local_topk replaces the ring
#: rounds: near the measured crossover of the costlier score (edges,
#: ~250 ns/pair), far below kNN's (~30 ns/pair)
LOCAL_PAIRS_MAX = 100_000_000


def points(df: DataFrame, id_col: str, id_as: str, lat: str, lng: str,
           prefix: str) -> DataFrame:
    """(id_as, {prefix}x, {prefix}y, {prefix}z, {prefix}leaf) — the unit
    point and its leaf cell from ONE Arrow pass over lat/lng degrees."""
    p = udfs.latlng_deg_to_xyz_leaf(F.col(lat), F.col(lng))
    return df.select(F.col(id_col).alias(id_as), p.alias("_p")).select(
        id_as, *(F.col(f"_p.{c}").alias(prefix + c) for c in ("x", "y", "z", "leaf"))
    )


def min_width_chord2(lvl: Column) -> Column:
    """Column form of sphere.chord2_from_angle(sphere.metric_value(
    MIN_WIDTH_DERIV, lvl)): the ring completeness bound."""
    ang = F.lit(float(sphere.MIN_WIDTH_DERIV)) * F.pow(
        F.lit(2.0), -lvl.cast("double")
    )
    s = F.lit(2.0) * F.sin(F.least(F.lit(float(np.pi)), ang) / F.lit(2.0))
    return s * s


def topk(scored: DataFrame, k: int, ids: list[str]) -> DataFrame:
    """Per-query top-k of (query_id, *ids, chord2, ...) rows by (chord2,
    ids). dense_rank gives a candidate seen twice one rank, so the dedupe
    after the filter reuses the window's partitioning — one Exchange."""
    w = Window.partitionBy("query_id").orderBy("chord2", *ids)
    return (
        scored.withColumn("rank", F.dense_rank().over(w))
        .where(F.col("rank") <= k)
        .dropDuplicates(["query_id", *ids])
    )


def split(cand: DataFrame, queries: DataFrame, k: int,
          ids: list[str]) -> tuple[DataFrame, DataFrame]:
    """(done, rest): the top-k rows of the queries whose k-th chord2 is
    below their ``bound`` column, and the ``queries`` rows of all others."""
    # held: the verdict and the done rows both read the top-k, and without
    # it the candidate join runs once per consumer
    top = cache.hold(topk(cand, k, ids))
    verdict = top.groupBy("query_id").agg(
        F.count("*").alias("found"),
        F.max("chord2").alias("kth"),
        F.first("bound").alias("bound"),
    )
    finished = verdict.where(
        (F.col("found") == k) & (F.col("kth") < F.col("bound"))
    ).select("query_id")
    return (
        top.join(finished, "query_id"),
        queries.join(finished, "query_id", "left_anti"),
    )


def search(
    queries: DataFrame,
    k: int,
    ids: list[str],
    score: Column,
    items: DataFrame,
    keyed: Callable[[DataFrame], DataFrame],
    seed_levels: set[int],
) -> DataFrame:
    """(query_id, rank, *ids, chord2) exact top-k per query.

    ``queries``: (query_id, qx, qy, qz, qleaf, lvl), ``lvl`` the query's
    seed level. ``seed_levels``: a driver-side superset of the seed levels.
    ``items``: (*ids, score inputs), one row per item, for the exact pass.
    ``keyed(levels)``: (lvl, cell, *ids, score inputs) for the broadcast
    table of probed levels."""
    parts = []
    remaining = queries
    spark = queries.sparkSession
    cell = cc.parent("qleaf", F.col("lvl"))
    for r in range(MAX_ROUNDS):
        # this round's levels, driver-side: every seed level coarsened r
        # times, level 0 dropped (a superset of the live set is fine —
        # unused levels add no matches)
        step = r * FALLBACK_LEVEL_STEP
        levels = sorted({L - step for L in seed_levels if L > step})
        if not levels:
            break
        if r == 0:
            # held: every round and the exact pass start from the queries,
            # so point prep and seed levels run once
            remaining = cache.hold(remaining)
        lvl_df = F.broadcast(local_df(spark, [(L,) for L in levels], "lvl int"))
        probe = remaining.where(F.col("lvl") > 0).select(
            "query_id", "qx", "qy", "qz", "lvl",
            min_width_chord2(F.col("lvl")).alias("bound"),
            F.explode(
                F.array_union(F.array(cell), udfs.all_neighbors(cell))
            ).alias("cell"),
        )
        cand = probe.join(keyed(lvl_df), ["lvl", "cell"]).select(
            "query_id", *ids, score.alias("chord2"), "bound"
        )
        done, remaining = split(cand, remaining, k, ids)
        parts.append(done)
        remaining = remaining.withColumn(
            "lvl", F.greatest(F.lit(0), F.col("lvl") - F.lit(FALLBACK_LEVEL_STEP))
        )
    # exact pass: broadcast the remnant after rounds, else the (tiny) index
    q = remaining.select("query_id", "qx", "qy", "qz")
    pairs = F.broadcast(q).crossJoin(items) if parts else q.crossJoin(F.broadcast(items))
    parts.append(topk(pairs.select("query_id", *ids, score.alias("chord2")), k, ids))
    cols = ["query_id", "rank", *ids, "chord2"]
    return reduce(DataFrame.unionByName, (p.select(*cols) for p in parts))


def query_rows(queries: DataFrame, query_id: str, lat: str, lng: str) -> DataFrame:
    """(query id, lat, lng) in double degrees: the side local_topk ships."""
    return queries.select(query_id, F.col(lat).cast("double"), F.col(lng).cast("double"))


def local_queries(queries: DataFrame, query_id: str, lat: str, lng: str,
                  n_items: int, rings: bool) -> pa.Table | None:
    """The route decision: ``query_rows`` as Arrow for local_topk when they
    number at most LOCAL_PAIRS_MAX // n_items (one bounded collect; none
    when ``rings`` is False or the budget holds no query), else None — the
    caller runs ``search``."""
    cap = LOCAL_PAIRS_MAX // max(n_items, 1)
    if not rings or cap < 1:
        return None
    q = query_rows(queries, query_id, lat, lng).limit(cap + 1).toArrow()
    return q if q.num_rows <= cap else None


def _within_kth(t: pa.Table, k: int, ids: list[str],
                nq: int) -> tuple[pa.Table, np.ndarray]:
    """(rows, kth): of the (_qi, *ids, chord2) candidates, one per distinct
    (query, item), those within their query's k-th chord2 (ties kept); and
    each query's k-th chord2 (inf below k candidates)."""
    t = t.group_by(["_qi", *ids], use_threads=False).aggregate([("chord2", "min")])
    qi, d = t["_qi"].to_numpy(), t["chord2_min"].to_numpy()
    order = np.lexsort((d, qi))
    qs, ds = qi[order], d[order]
    at_k = np.arange(len(qs)) - np.searchsorted(qs, qs) == k - 1
    kth = np.full(nq, np.inf)
    kth[qs[at_k]] = ds[at_k]
    t = pa.table({"_qi": t["_qi"], **{c: t[c] for c in ids}, "chord2": t["chord2_min"]})
    return t.take(np.sort(order[ds <= kth[qs]])), kth


def local_topk(items: DataFrame, queries: pa.Table, k: int, ids: list[str],
               score: Callable[[np.ndarray, pa.Table], np.ndarray]) -> DataFrame:
    """(query_id, rank, *ids, chord2) exact top-k of every query against
    every item: ONE mapInArrow over ``items``, one top-k Exchange.

    ``queries``: (query id, lat, lng) degrees, made unit points on the
    driver (the numpy calls udfs.latlng_deg_to_xyz_leaf wraps) and shipped
    in the closure. ``score(q, block)``: (Qc, Bc) chord2 of points ``q``
    (Qc, 1, 3) to an Arrow block of items. A partition emits per query its
    distinct items (by ``ids``) within its local k-th chord2, ties kept —
    the global top-k is the top-k of these."""
    qid = queries.column(0).combine_chunks()
    q = np.stack(s2.latlng_to_xyz(
        *(np.radians(queries.column(c).to_numpy()) for c in (1, 2))
    ), axis=-1)[:, None, :]
    nq = len(q)
    schema = StructType([
        StructField("query_id", from_arrow_type(qid.type)),
        *(items.schema[c] for c in ids), StructField("chord2", DoubleType()),
    ])

    def part(batches):
        block = 1 << 18  # pairs scored at once: bounds worker memory
        kept, kth, n_new = [], np.full(nq, np.inf), 0
        for rb in batches:
            t = pa.Table.from_batches([rb])
            first = pa.table({**{c: t[c] for c in ids}, "_r": np.arange(len(t))}).group_by(
                ids, use_threads=False).aggregate([("_r", "min")])["_r_min"]
            if len(first) < len(t):  # an item indexed twice is scored once
                t = t.take(np.sort(first.to_numpy()))
            bc = max(1, min(len(t), max(256, block // max(nq, 1))))
            qc = max(1, block // bc)
            for b0 in range(0, len(t), bc):
                blk = t.slice(b0, bc)
                for q0 in range(0, nq, qc):
                    d = score(q[q0:q0 + qc], blk)
                    lim = kth[q0:q0 + qc, None]
                    if d.shape[1] > k:
                        lim = np.minimum(lim, np.partition(d, k - 1, axis=1)[:, k - 1:k])
                    qi, j = np.nonzero(d <= lim)
                    kept.append(pa.table({"_qi": qi + q0, **{c: blk[c].take(j) for c in ids},
                                          "chord2": d[qi, j]}))
                    n_new += len(qi)
                    if n_new >= max(1 << 16, nq * k):
                        top, kth = _within_kth(pa.concat_tables(kept), k, ids, nq)
                        kept, n_new = [top], 0
        if kept:
            top, _ = _within_kth(pa.concat_tables(kept), k, ids, nq)
            yield from top.set_column(0, "query_id", qid.take(top["_qi"])).to_batches()

    return topk(items.mapInArrow(part, schema), k, ids).select(
        "query_id", "rank", *ids, "chord2"
    )
