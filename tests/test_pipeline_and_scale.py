"""Pipeline resume, density partitioner and distributed-operator tests."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.plans import density
from s2_geometry_library_java_spark.sources import geo, tables
from tests.conftest import SF_DIR


def test_checkpointed_pipeline_resume(spark, tmp_path):
    from s2_geometry_library_java_spark.pipeline.runner import CheckpointedPipeline

    calls = {"n": 0}

    def make():
        calls["n"] += 1
        return spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("x"))

    pl = CheckpointedPipeline(spark, str(tmp_path))
    a = pl.stage("s1", make, "fp-v1")
    assert a.count() == 100 and calls["n"] == 1
    # same fingerprint -> resumed from checkpoint, no recompute
    b = pl.stage("s1", make, "fp-v1")
    assert b.count() == 100 and calls["n"] == 1
    # changed fingerprint -> recompute
    c = pl.stage("s1", make, "fp-v2")
    assert c.count() == 100 and calls["n"] == 2
    m = pl.metrics().collect()
    assert m[0]["rows_out"] == 100 and m[0]["skew_factor"] >= 1.0

    # rows-in / cells-emitted lineage (north rule: metrics tables carry
    # rows in/out, cells emitted, skew factor)
    from s2_geometry_library_java_spark.functions import udfs

    def tile():
        return (
            spark.range(50)
            .select(
                F.col("id"),
                (F.col("id") % 5 + 10.0).alias("lat"),
                (F.col("id") % 7 + 20.0).alias("lng"),
            )
            .withColumn(
                "cell", udfs.cell_id_from_latlng_deg(F.col("lat"), F.col("lng"), 10)
            )
        )

    pl.stage("s2", tile, "fp-t1", rows_in=100, cells_col="cell")
    rec = pl.lineage("s2")
    assert rec["rows_in"] == 100 and rec["rows_out"] == 50
    assert rec["cells_emitted"] == 50
    assert 20 <= rec["cells_distinct_est"] <= 50  # ~35 distinct, HLL approx
    m2 = {r["stage"]: r for r in pl.metrics().collect()}
    assert m2["s2"]["cells_emitted"] == 50 and m2["s2"]["rows_in"] == 100
    assert m2["s1"]["cells_emitted"] is None and m2["s1"]["rows_in"] is None


def test_density_partitioner(spark):
    from s2_geometry_library_java_spark.functions import udfs

    ev = tables.load_table(spark, SF_DIR, "events")
    pts = ev.select(
        F.col("event_id").alias("k"),
        geo.lat_col("event_id").alias("lat"),
        geo.lng_col("event_id").alias("lng"),
    ).withColumn("leaf", udfs.cell_id_from_latlng_deg(F.col("lat"), F.col("lng"), 30))
    out = density.repartition_by_hilbert_range(pts, "leaf", 8, histogram_level=4)
    sizes = (
        out.groupBy(F.spark_partition_id().alias("p")).count().toPandas()["count"]
    )
    assert out.count() == pts.count()
    # equal-weight goal: no partition more than 3x the mean
    assert sizes.max() <= 3 * max(sizes.mean(), 1)


def test_hot_cell_salt(spark):
    from s2_geometry_library_java_spark.functions import udfs

    # all points in one metro cell -> salting must spread them
    pts = spark.range(2000).select(
        F.col("id"),
        (F.lit(33.0) + F.col("id") % 100 / 10000.0).alias("lat"),
        F.lit(-112.0).alias("lng"),
    ).withColumn("leaf", udfs.cell_id_from_latlng_deg(F.col("lat"), F.col("lng"), 30))
    salted = density.with_hot_cell_salt(pts, "leaf", level=6, max_rows_per_cell=500)
    n_salts = salted.select("salt").distinct().count()
    assert n_salts >= 3
    assert salted.count() == 2000


def test_simple_covering_flood_fill():
    from s2_geometry_library_java_spark.kernel import cellid as ci
    from s2_geometry_library_java_spark.kernel import coverer as cv
    from s2_geometry_library_java_spark.kernel import region as rg

    cap = rg.Cap.from_latlng_deg(12.0, 34.0, 1.5)
    ids = cv.get_simple_covering(cap, (12.0, 34.0), level=8)
    assert ids
    lv = ci.level(np.array(ids, dtype=np.uint64))
    assert set(lv.tolist()) == {8}
    # covers the cap
    rng = np.random.RandomState(0)
    lat = np.radians(12 + rng.uniform(-1.5, 1.5, 5000))
    lng = np.radians(34 + rng.uniform(-1.6, 1.6, 5000))
    x, y, z = ci.latlng_to_xyz(lat, lng)
    inside = cap.contains_points(x, y, z)
    leaf = ci.latlng_to_cell_id(lat, lng)
    u = np.array(ids, dtype=np.uint64)
    covered = (
        (leaf[:, None] >= ci.range_min(u)[None, :])
        & (leaf[:, None] <= ci.range_max(u)[None, :])
    ).any(axis=1)
    assert bool(covered[inside].all())


def test_candidate_pairs_auto_guard(spark, monkeypatch):
    """candidate_pairs must flip to the fully distributed ancestor
    equi-join when a side exceeds SMALL_SHAPES_THRESHOLD, and both paths
    must produce identical pair sets."""
    from s2_geometry_library_java_spark.operators import booleanops as bpo

    def quad(lat0, lng0, d=3.0):
        pts = [(lat0, lng0), (lat0, lng0 + d), (lat0 + d, lng0 + d), (lat0 + d, lng0)]
        return ", ".join(f"{float(la)!r}:{float(ln)!r}" for la, ln in pts)

    sa = spark.createDataFrame(
        [(f"a{k}", quad(10.0 + 4 * k, 20.0)) for k in range(4)],
        "shape_id string, text string",
    )
    sb = spark.createDataFrame(
        [(f"b{k}", quad(11.0 + 4 * k, 21.0)) for k in range(4)],
        "shape_id string, text string",
    )

    def pairs_of(df):
        return sorted((r["a_id"], r["b_id"]) for r in df.collect())

    # 4 shapes a side: the driver-side pairing
    small = pairs_of(bpo.candidate_pairs(sa, sb))

    # force the threshold below the table size: the call must take the
    # distributed path (collect() on coverings would raise if called)
    monkeypatch.setattr(bpo, "SMALL_SHAPES_THRESHOLD", 2)
    called = {"collect": False}
    import s2_geometry_library_java_spark.operators.shapes as shp

    real_coverings = shp.coverings_df

    def spy(df, **kw):
        out = real_coverings(df, **kw)
        orig_collect = out.collect

        def marked():
            called["collect"] = True
            return orig_collect()

        out.collect = marked
        return out

    monkeypatch.setattr(bpo, "coverings_df", spy)
    dist = pairs_of(bpo.candidate_pairs(sa, sb))
    assert not called["collect"], "the distributed route took the driver-side collect"
    assert small == dist and len(small) >= 4  # overlapping ladder pairs


def test_knn_density_seed_fewer_fallbacks(spark):
    """knn_cell seed levels from plans/density artifacts: on skewed data
    the per-query density seed assigns sparse-region queries a strictly
    coarser level than the uniform count prior (fewer fallback rounds for
    them), and both paths stay exact vs brute force."""
    import math

    import numpy as np

    import s2_geometry_library_java_spark.kernel.cellid as ci
    from s2_geometry_library_java_spark.operators import knn
    from s2_geometry_library_java_spark.functions import udfs
    from s2_geometry_library_java_spark.plans import density

    rng = np.random.default_rng(21)
    dense = [(int(i), float(10 + rng.uniform(0, 1)), float(20 + rng.uniform(0, 1)))
             for i in range(1500)]
    sparse = [(int(10000 + i), float(rng.uniform(-60, -10)), float(rng.uniform(60, 150)))
              for i in range(60)]
    index = spark.createDataFrame(dense + sparse, "id long, lat double, lng double")
    queries = spark.createDataFrame(
        [(int(i), float(10.2 + 0.05 * i), float(20.3 + 0.04 * i)) for i in range(8)]
        + [(int(100 + i), float(-30 - 2 * i), float(90 + 3 * i)) for i in range(8)],
        "query_id long, lat double, lng double",
    )
    k = 3
    hist_level = 6
    leafed = index.withColumn(
        "leaf", udfs.cell_id_from_latlng_deg(F.col("lat"), F.col("lng"), 30)
    )
    hist = density.density_histogram(leafed, "leaf", hist_level)

    # exactness under both seeds
    brute = knn.knn_bruteforce(index, queries, k)
    got_u = knn.knn_cell_join(index, queries, k)
    got_d = knn.knn_cell_join(
        index, queries, k, density_hist=hist, hist_level=hist_level
    )

    def rows(df):
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"]) for r in df.collect()
        )

    bt = rows(brute)
    assert rows(got_u) == bt
    assert rows(got_d) == bt

    # seed-level comparison: the uniform prior treats the whole index as
    # one density; sparse-region queries get the same deep level as metro
    # queries and their first-round ring is empty. The density seed gives
    # them a strictly coarser level.
    uniform_level = knn.choose_level(len(dense) + len(sparse), k)
    hist_map = {c: w for c, w in hist}
    target = max(32, 8 * k)
    for i in range(8):
        la, ln = -30 - 2 * i, 90 + 3 * i
        leaf = np.uint64(int(ci.latlng_degrees_to_cell_id(la, ln)))
        h = int(np.atleast_1d(ci.parent(leaf, hist_level))[0])
        w = hist_map.get(h, 0)
        if w <= 0:
            lvl = 0
        else:
            lvl = max(0, min(30, hist_level + int(
                math.floor(math.log(9.0 * w / (1.5 * target), 4.0)))))
        assert lvl < uniform_level, (i, lvl, uniform_level, w)


def test_density_interpolation_splits_hot_metro(spark):
    """Round-4 verdict #4 'done' criterion: a single cell heavier than a
    whole target partition is split FRACTIONALLY along its Hilbert range
    (S2DensityClusterQuery.CellInterpolator semantics) — max partition
    weight <= 1.5x target on a one-hot-metro fixture."""
    from s2_geometry_library_java_spark.functions import udfs

    n, n_parts = 4000, 8
    # 90% of rows in one ~level-8 metro cell, 10% spread widely
    pts = spark.range(n).select(
        F.col("id"),
        F.when(F.col("id") % 10 < 9,
               F.lit(33.0) + (F.col("id") % 97) / 2000.0)
        .otherwise(-40.0 + (F.col("id") % 80)).alias("lat"),
        F.when(F.col("id") % 10 < 9,
               F.lit(-112.0) + (F.col("id") % 89) / 2000.0)
        .otherwise(-170.0 + (F.col("id") % 340)).alias("lng"),
    ).withColumn("leaf", udfs.cell_id_from_latlng_deg(F.col("lat"), F.col("lng"), 30))
    out = density.repartition_by_hilbert_range(
        pts, "leaf", n_parts, histogram_level=8
    )
    sizes = (
        out.groupBy(F.spark_partition_id().alias("p")).count().toPandas()["count"]
    )
    assert out.count() == n
    target = n / n_parts
    assert sizes.max() <= 1.5 * target, f"max {sizes.max()} vs target {target}"
    # the metro cell was genuinely split across several partitions
    assert len(sizes) >= n_parts - 1


def test_equal_weight_boundaries_interpolates_within_cell():
    from s2_geometry_library_java_spark.kernel import cellid as ci

    cell = int(ci.parent(ci.latlng_degrees_to_cell_id(33.0, -112.0), 8))
    light = [
        (int(ci.parent(ci.latlng_degrees_to_cell_id(float(la), 60.0), 8)), 1)
        for la in range(-30, -10, 2)
    ]
    boundaries = density.equal_weight_boundaries(light + [(cell, 1000)], 5)
    assert len(boundaries) == 4
    # the heavy cell's leaf range must contain several boundaries
    b = int(cell) ^ (1 << 63)  # biased order (cell is a uint64 value)
    lsb = b & -b
    rmin, rmax = b - (lsb - 1), b + (lsb - 1)
    inside = [x for x in boundaries if rmin <= x <= rmax]
    assert len(inside) >= 3, (boundaries, rmin, rmax)
    # boundaries strictly increasing
    assert boundaries == sorted(set(boundaries))
