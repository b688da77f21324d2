"""Streaming geofence: stream-static point-in-polygon join.

The canonical streaming use of the S2 cell machinery
(S2ContainsPointQuery.java:113 semantics, same two-tier plan as
operators/pip.pip_join): a stream of geotagged events is joined against
a STATIC broadcast covering table (polygon_id, covering cell,
is_interior), with the exact crossing-parity kernel run only on
boundary-cell candidates. Everything is a stateless per-batch map for
the hit stream — no streaming state, no shuffle of the event stream —
so it runs identically under micro-batch and continuous triggers and
at any executor count. The windowed-count form adds the one stateful
stage (watermarked window aggregation) AFTER the thin hit stream.

At 100 TB/day the event stream never shuffles for the join: the
covering table is O(polygons x max_cells) rows and broadcasts; state is
bounded by (windows in watermark) x (polygons hit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators import pip


def geofence_hits(
    spark,
    events: DataFrame,
    polygons: dict,
    point_id: str = "entity_id",
    lat: str = "lat",
    lng: str = "lng",
    time_col: str = "event_time",
    max_cells: int = 8,
) -> DataFrame:
    """(event_time, point_id, polygon_id) for every event inside each
    fence. ``events`` may be a streaming OR batch DataFrame — the plan is
    operators/pip's candidate join and exact filter (the plan of
    pip_join, carrying event_time along), so streaming output bit-matches
    the batch join on the same rows."""
    pts = pip.leaf_points(
        events, point_id, lat, lng, carry=(F.col(time_col).alias("event_time"),)
    )
    cand = pip.candidate_join(spark, pts, pip.covering_rows(polygons, max_cells=max_cells))
    hits = pip.exact_filter(cand, polygons)
    return hits.select("event_time", "point_id", "polygon_id")


def streaming_geofence_counts(
    spark,
    events: DataFrame,
    polygons: dict,
    window: str = "1 minute",
    watermark: str = "30 seconds",
    **kwargs,
) -> DataFrame:
    """Watermarked per-(window, fence) occupancy: event count + distinct
    entities. Append output mode; late events beyond the watermark drop,
    windows finalize once the watermark passes."""
    hits = geofence_hits(spark, events, polygons, **kwargs)
    return (
        hits.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window).alias("w"), "polygon_id")
        .agg(
            F.count("*").alias("n_events"),
            F.approx_count_distinct("point_id").alias("n_entities"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "polygon_id",
            "n_events",
            "n_entities",
        )
    )
