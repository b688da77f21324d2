"""Pipeline resume, density partitioner, streaming, and multimodal tests."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.operators import multimodal
from s2_geometry_library_java_spark.plans import density
from s2_geometry_library_java_spark.sources import docs as docsrc
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


def test_streaming_tile_counts(spark):
    from s2_geometry_library_java_spark.streaming import tiles

    q = tiles.run_to_memory_sink(spark, level=4, rows_per_second=2000, name="t_tiles")
    q.awaitTermination(60)
    out = spark.sql("SELECT * FROM t_tiles")
    # rate + availableNow may deliver few rows; schema is the contract
    assert out.columns == ["window_start", "tile_token", "n", "approx_ids"]


def test_multimodal_features(spark):
    docs = docsrc.with_spans(tables.load_table(spark, SF_DIR, "documents"))
    spans = docsrc.exploded_spans(docs)
    media = multimodal.synthesize_media_assets(spans)
    feats = multimodal.extract_features(
        media, decoder=multimodal.deterministic_fake_decoder
    )
    pdf = feats.limit(20).toPandas()
    assert len(pdf) == 20
    assert all(len(f) == 16 for f in pdf["feature"])
    assert (pdf["n_bytes"] == 32).all()
    # stub decoder must raise loudly
    import pytest

    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        multimodal.extract_features(media).limit(1).toPandas()


def test_multimodal_resize(spark):
    docs = docsrc.with_spans(tables.load_table(spark, SF_DIR, "documents"))
    media = multimodal.synthesize_media_assets(docsrc.exploded_spans(docs))
    small = multimodal.resize_media(
        media, 16, 16, resizer=multimodal.deterministic_fake_resizer
    )
    pdf = small.limit(20).toPandas()
    assert len(pdf) == 20
    assert (pdf["width"] == 16).all() and (pdf["height"] == 16).all()
    # 32x32 -> 16x16 quarters the payload (fake resizer scales by pixels)
    assert all(len(p) == 8 for p in pdf["payload"])
    # deterministic: same input -> same bytes
    pdf2 = small.limit(20).toPandas()
    assert list(pdf["payload"]) == list(pdf2["payload"])
    import pytest

    with pytest.raises(Exception, match="NotImplementedError|image resize"):
        multimodal.resize_media(media, 16, 16).limit(1).toPandas()


def test_multimodal_frame_sampling(spark):
    from pyspark.sql import functions as F

    docs = docsrc.with_spans(tables.load_table(spark, SF_DIR, "documents"))
    media = multimodal.synthesize_media_assets(docsrc.exploded_spans(docs))
    videos = media.limit(10).withColumn("kind", F.lit("video")).withColumn(
        "duration_ms", (F.length("media_ref") * 700).cast("int")
    )
    frames = multimodal.sample_frames(
        videos, every_ms=1000, max_frames=4,
        extractor=multimodal.deterministic_fake_frame_extractor,
    )
    pdf = frames.toPandas()
    vids = videos.select("media_ref", "duration_ms").toPandas()
    want = int(sum(min(d // 1000, 4) for d in vids["duration_ms"]))
    assert len(pdf) == want
    assert (pdf["t_ms"] == pdf["frame_no"] * 1000).all()
    assert all(len(p) == 16 for p in pdf["payload"])
    import pytest

    with pytest.raises(Exception, match="NotImplementedError|frame extraction"):
        multimodal.sample_frames(videos).toPandas()


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


def test_region_sharder():
    from s2_geometry_library_java_spark.kernel import cellid as ci
    from s2_geometry_library_java_spark.kernel import coverer as cv
    from s2_geometry_library_java_spark.kernel import region as rg

    # shards from a synthetic histogram over a cap's neighborhood
    boundaries = density.equal_weight_boundaries(
        [(int(ci.parent(ci.latlng_degrees_to_cell_id(float(la), 30.0), 6)), 10)
         for la in range(-40, 41, 2)],
        8,
    )
    sharder = density.RegionSharder(boundaries)
    cov8 = cv.RegionCoverer(max_cells=8)
    ids = cov8.get_covering(rg.Cap.from_latlng_deg(10.0, 30.0, 2.0))
    shards = sharder.intersecting_shards(ids)
    assert shards and len(shards) <= 8
    assert sharder.most_intersecting_shard(ids) in shards


def test_cellunion_difference_df(spark):
    from s2_geometry_library_java_spark.kernel import cellid as ci
    from s2_geometry_library_java_spark.kernel import coverer as cv
    from s2_geometry_library_java_spark.kernel import region as rg
    from s2_geometry_library_java_spark.operators import cellunion

    cap_a = rg.Cap.from_latlng_deg(20.0, 30.0, 10.0)
    cap_b = rg.Cap.from_latlng_deg(23.0, 34.0, 8.0)
    cov = cv.RegionCoverer(max_cells=20)
    ua = spark.createDataFrame(
        [(int(np.int64(np.uint64(c))),) for c in cov.get_covering(cap_a)], "cell_id long"
    )
    ub = spark.createDataFrame(
        [(int(np.int64(np.uint64(c))),) for c in cov.get_covering(cap_b)], "cell_id long"
    )
    ids = np.array(
        [np.uint64(np.int64(r["cell_id"])) for r in cellunion.difference_df(ua, ub).collect()],
        dtype=np.uint64,
    )
    assert bool(np.all(ci.is_valid(ids)))
    rng = np.random.RandomState(0)
    lat = np.radians(rng.uniform(5, 35, 10000))
    lng = np.radians(rng.uniform(15, 45, 10000))
    leaf = ci.latlng_to_cell_id(lat, lng)

    def member(u):
        return (
            (leaf[:, None] >= ci.range_min(u)[None, :])
            & (leaf[:, None] <= ci.range_max(u)[None, :])
        ).any(axis=1)

    ua_ids = np.array(cov.get_covering(cap_a), dtype=np.uint64)
    ub_ids = np.array(cov.get_covering(cap_b), dtype=np.uint64)
    assert np.array_equal(member(ids), member(ua_ids) & ~member(ub_ids))


def test_drop_contained_df_distributed(spark):
    """Range-partitioned two-pass cummax == kernel union_normalize's
    drop-contained step, across many partitions and cross-partition
    containment (a face cell swallowing later partitions' cells)."""
    from s2_geometry_library_java_spark.kernel import cellid as ci
    from s2_geometry_library_java_spark.kernel import coverer as cv
    from s2_geometry_library_java_spark.operators import cellunion

    rng = np.random.RandomState(7)
    lat = np.radians(rng.uniform(-80, 80, 4000))
    lng = np.radians(rng.uniform(-179, 179, 4000))
    lvls = rng.randint(2, 14, 4000)
    ids = ci.parent(ci.latlng_to_cell_id(lat, lng), lvls)
    # plus a face cell that contains a big slab of them
    face4 = (np.uint64(4) << np.uint64(61)) | (np.uint64(1) << np.uint64(60))
    ids = np.concatenate([ids, [face4]])
    df = spark.createDataFrame(
        [(int(np.int64(u)),) for u in ids], "cell_id long"
    )
    got = sorted(
        int(np.uint64(np.int64(r["cell_id"])))
        for r in cellunion.drop_contained_df(df, num_partitions=16).collect()
    )
    # oracle: scalar drop-contained (sort by biased rmin, keep rmax > cummax)
    b = (ids ^ (np.uint64(1) << np.uint64(63))).view(np.int64)
    rminb = (ci.range_min(ids) ^ (np.uint64(1) << np.uint64(63))).view(np.int64)
    rmaxb = (ci.range_max(ids) ^ (np.uint64(1) << np.uint64(63))).view(np.int64)
    order = np.lexsort((-rmaxb, rminb))
    keep = []
    run = None
    for k in order:
        if run is None or rmaxb[k] > run:
            keep.append(int(ids[k]))
            run = rmaxb[k] if run is None else max(run, rmaxb[k])
        else:
            run = max(run, rmaxb[k])
    assert got == sorted(keep)


def test_drop_contained_df_no_global_sort(spark):
    """The plan must not contain a single-partition exchange (the round-1
    global Window.orderBy anti-pattern)."""
    from s2_geometry_library_java_spark.operators import cellunion

    df = spark.range(100).selectExpr("cast(shiftleft(id, 32) + 1 as long) as cell_id")
    plan = cellunion.drop_contained_df(df)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan


def test_difference_df_deep_refinement(spark):
    """ADVICE regression: face cell minus one leaf-level cell must reach
    the full 30-level refinement depth without dropping the last frontier."""
    from s2_geometry_library_java_spark.kernel import cellid as ci
    from s2_geometry_library_java_spark.operators import cellunion

    face0 = (np.uint64(0) << np.uint64(61)) | (np.uint64(1) << np.uint64(60))
    leaf = ci.latlng_to_cell_id(np.array([0.1]), np.array([0.1]))[0]
    ua = spark.createDataFrame([(int(np.int64(face0)),)], "cell_id long")
    ub = spark.createDataFrame([(int(np.int64(leaf)),)], "cell_id long")
    out = np.array(
        [
            np.uint64(np.int64(r["cell_id"]))
            for r in cellunion.difference_df(ua, ub).collect()
        ],
        dtype=np.uint64,
    )
    # exact difference of a level-0 cell minus one leaf: 4 cells per level
    # 1..30 minus the shared path = 30 levels x 3 siblings = 90 cells
    assert len(out) == 90
    assert bool(np.all(ci.is_valid(out)))
    # the removed leaf is NOT covered; its 3 siblings are
    lb = int(leaf)
    rmin = ci.range_min(out).astype(np.uint64)
    rmax = ci.range_max(out).astype(np.uint64)
    covered = bool(((np.uint64(lb) >= rmin) & (np.uint64(lb) <= rmax)).any())
    assert not covered


def test_spatial_layout_partition_pruning(spark, tmp_path):
    """Iceberg-style layout: part_cell partition column + covering IN
    filter -> the scan's PartitionFilters prune files; results equal the
    unpruned range filter."""
    from s2_geometry_library_java_spark.kernel import cellid as ci
    from s2_geometry_library_java_spark.kernel import coverer as cv
    from s2_geometry_library_java_spark.kernel import region as rg
    from s2_geometry_library_java_spark.sources import spatial_layout as sl

    rng = np.random.RandomState(4)
    lat = rng.uniform(-80, 80, 5000)
    lng = rng.uniform(-179, 179, 5000)
    leaf = ci.latlng_to_cell_id(np.radians(lat), np.radians(lng))
    df = spark.createDataFrame(
        [(int(i), int(np.int64(leaf[i]))) for i in range(5000)], "id long, leaf long"
    )
    path = str(tmp_path / "pts")
    sl.write_spatial_table(df, path, part_level=2)

    cap = rg.Cap.from_latlng_deg(20.0, 30.0, 9.0)
    ids = cv.RegionCoverer(max_cells=8).get_covering(cap)
    pruned = sl.pruned_scan(spark, path, ids, part_level=2)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "part_cell" in plan

    # correctness: pruned scan + range membership == brute membership
    lob = [int(np.int64(np.uint64(ci.range_min(np.uint64(c))))) for c in ids]
    hib = [int(np.int64(np.uint64(ci.range_max(np.uint64(c))))) for c in ids]
    from pyspark.sql import functions as F
    from s2_geometry_library_java_spark.functions import columns as cc

    cond = None
    for lo, hi in zip(lob, hib):
        b = cc.biased("leaf")
        lo_b, hi_b = lo ^ -(2**63), hi ^ -(2**63)
        c = (b >= F.lit(lo_b)) & (b <= F.lit(hi_b))
        cond = c if cond is None else (cond | c)
    got = {r["id"] for r in pruned.where(cond).collect()}
    want = {r["id"] for r in spark.read.parquet(path).where(cond).collect()}
    assert got == want and len(want) > 0

    # the pruned scan reads strictly fewer partitions than exist
    n_parts_all = spark.read.parquet(path).select("part_cell").distinct().count()
    n_parts_pruned = pruned.select("part_cell").distinct().count()
    assert n_parts_pruned < n_parts_all


def test_streaming_first_seen_stateful(spark, tmp_path):
    """applyInPandasWithState spatial dedup: across micro-batches, each
    (tile, entity) surfaces exactly once — driven deterministically via a
    file-source stream over pre-written parquet."""
    import datetime as dt

    from pyspark.sql import functions as F

    from s2_geometry_library_java_spark.streaming import tiles

    base = dt.datetime(2026, 1, 1)
    rows = []
    # 3 entities x repeated events in 2 locations; duplicates across files
    for batch in range(2):
        for k in range(30):
            eid = k % 3
            lat, lng = (10.0, 20.0) if k % 2 == 0 else (-40.0, 100.0)
            rows.append((base + dt.timedelta(seconds=batch * 60 + k), eid, lat, lng))
    src = str(tmp_path / "events")
    spark.createDataFrame(
        rows, "event_time timestamp, entity_id long, lat double, lng double"
    ).write.parquet(src)
    stream = (
        spark.readStream.schema(
            "event_time timestamp, entity_id long, lat double, lng double"
        ).parquet(src)
    )
    out = tiles.streaming_first_seen(stream, level=4)
    q = (
        out.writeStream.format("memory")
        .queryName("t_first_seen")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT tile, entity_id FROM t_first_seen").collect()
    pairs = [(r["tile"], r["entity_id"]) for r in got]
    assert len(pairs) == len(set(pairs))  # exactly-once per (tile, entity)
    # 2 tiles x 3 entities... entity k%3 at k%2 location: entity 0 and 2
    # hit the even location, 1 the odd one; expect 4 distinct pairs? derive:
    want = {(k % 3, (10.0, 20.0) if k % 2 == 0 else (-40.0, 100.0)) for k in range(30)}
    assert len(pairs) == len(want)


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


def test_boolean_pairs_mixed_distributed(spark):
    """boolean_pairs(mixed=True): the distributed pair form surfaces
    CLOSED-model degenerate outputs — a shared-edge tangent pair yields
    an empty polygon plus degenerate edges spanning the shared edge; a
    shared-vertex pair yields exactly one degenerate point."""
    from s2_geometry_library_java_spark.operators import booleanops as bpo

    def quad(pts):
        return ", ".join(f"{float(la)!r}:{float(ln)!r}" for la, ln in pts)

    sa = spark.createDataFrame(
        [("a0", quad([(14.0, 24.0), (14.0, 36.0), (26.0, 36.0), (26.0, 24.0)])),
         ("a1", quad([(10.0, 10.0), (10.0, 20.0), (20.0, 20.0), (20.0, 10.0)]))],
        "shape_id string, text string",
    )
    sb = spark.createDataFrame(
        [("b0", quad([(14.0, 36.0), (14.0, 48.0), (26.0, 48.0), (26.0, 36.0)])),
         ("b1", quad([(20.0, 20.0), (20.0, 30.0), (30.0, 30.0), (30.0, 20.0)]))],
        "shape_id string, text string",
    )
    rows = {
        (r["a_id"], r["b_id"]): r
        for r in bpo.boolean_pairs(sa, sb, "intersection", mixed=True).collect()
    }
    r_edge = rows[("a0", "b0")]
    assert r_edge["n_loops"] == 0 and r_edge["n_degen_edges"] >= 1
    assert r_edge["n_degen_points"] == 0 and r_edge["degen_edges"]
    r_pt = rows[("a1", "b1")]
    assert r_pt["n_loops"] == 0 and r_pt["n_degen_points"] == 1
    assert "20.0:20.0" in r_pt["degen_points"]


def test_boolean_pairs_mixed_open_model_distributed(spark):
    """boolean_pairs(mixed=True, model="open"): the OPEN polygon model
    rides the same distributed pair surface — the abutting pair's union
    carries the shared edge as a subtractive crack, and its intersection
    is empty with no degeneracies."""
    from s2_geometry_library_java_spark.operators import booleanops as bpo

    def quad(pts):
        return ", ".join(f"{float(la)!r}:{float(ln)!r}" for la, ln in pts)

    sa = spark.createDataFrame(
        [("a0", quad([(14.0, 24.0), (14.0, 36.0), (26.0, 36.0), (26.0, 24.0)]))],
        "shape_id string, text string",
    )
    sb = spark.createDataFrame(
        [("b0", quad([(14.0, 36.0), (14.0, 48.0), (26.0, 48.0), (26.0, 36.0)]))],
        "shape_id string, text string",
    )
    rows = {
        r["op"]: r
        for r in bpo.boolean_pairs(
            sa, sb, ["union", "intersection"], mixed=True, model="open"
        ).collect()
    }
    u = rows["union"]
    assert u["n_loops"] == 1 and u["n_degen_edges"] >= 1
    assert ":36.0" in u["degen_edges"]
    i = rows["intersection"]
    assert i["n_loops"] == 0 and i["n_degen_edges"] == 0 and i["n_degen_points"] == 0


def test_knn_max_distance_cap(spark):
    """F4 maxDistance option (S2ClosestPointQuery.Options.setMaxDistance):
    capped cell-join kNN equals capped brute force, and queries with
    fewer than k in-range neighbors return short result lists."""
    import numpy as np

    from s2_geometry_library_java_spark.kernel import sphere
    from s2_geometry_library_java_spark.operators import knn

    rng = np.random.RandomState(9)
    pts = [(int(i), float(10 + rng.uniform(-1, 1)), float(20 + rng.uniform(-1, 1)))
           for i in range(60)]
    pts += [(1000, 50.0, -120.0)]  # a far outlier
    idx = spark.createDataFrame(pts, "id long, lat double, lng double")
    qs = [(0, 10.0, 20.0), (1, 50.0, -120.0), (2, -40.0, 100.0)]
    queries = spark.createDataFrame(qs, "query_id long, lat double, lng double")
    cap = float(sphere.chord2_from_angle(np.radians(3.0)))

    def rows(df):
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"]) for r in df.collect()
        )

    brute = rows(knn.knn_bruteforce(idx, queries, k=5, max_chord2=cap))
    cell = rows(knn.knn_cell_join(idx, queries, k=5, max_chord2=cap))
    assert brute == cell
    per_q = {q: sum(1 for row in brute if row[0] == q) for q in (0, 1, 2)}
    assert per_q[0] == 5          # dense cluster: full k
    assert per_q[1] == 1          # only the outlier is in range
    assert per_q[2] == 0          # nothing within 3 degrees


def test_knn_region_filter(spark):
    """F4 region option (S2ClosestPointQuery.Options.setRegion): only
    neighbors inside the region survive."""
    from s2_geometry_library_java_spark.kernel import region as rgk
    from s2_geometry_library_java_spark.operators import knn

    pts = [(0, 10.0, 20.0), (1, 10.2, 20.2), (2, 30.0, 60.0), (3, 10.1, 19.9)]
    idx = spark.createDataFrame(pts, "id long, lat double, lng double")
    queries = spark.createDataFrame([(0, 10.0, 20.0)], "query_id long, lat double, lng double")
    res = knn.knn_bruteforce(idx, queries, k=4)
    cap = rgk.Cap.from_latlng_deg(10.0, 20.0, 1.0)  # 1-degree disc
    kept = knn.filter_neighbors_in_region(res, idx, cap).collect()
    ids = sorted(r["neighbor_id"] for r in kept)
    assert ids == [0, 1, 3]  # the faraway point 2 is filtered out


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


def test_streaming_geofence_matches_batch(spark, tmp_path):
    """Stream-static geofence join: streaming hits over a file-source
    stream bit-match the batch pip_join on the same rows, and the
    watermarked windowed counts roll those hits up per (window, fence)."""
    import datetime as dt

    from s2_geometry_library_java_spark.kernel import region as rg
    from s2_geometry_library_java_spark.operators import pip
    from s2_geometry_library_java_spark.streaming import geofence

    fences = {
        "a": rg.Polygon.from_text("0:0, 0:10, 10:10, 10:0"),
        "b": rg.Polygon.from_text("20:20, 20:30, 30:30, 30:20"),
    }
    base = dt.datetime(2026, 1, 1)
    rows = []
    for k in range(120):
        if k % 3 == 0:
            lat, lng = 5.0 + (k % 7) * 0.3, 5.0 + (k % 11) * 0.3  # inside a
        elif k % 3 == 1:
            lat, lng = 25.0 + (k % 5) * 0.4, 25.0 + (k % 13) * 0.2  # inside b
        else:
            lat, lng = -40.0, 100.0  # outside both
        rows.append((base + dt.timedelta(seconds=k), k % 10, lat, lng))
    schema = "event_time timestamp, entity_id long, lat double, lng double"
    src = str(tmp_path / "geofence_events")
    batch_df = spark.createDataFrame(rows, schema)
    batch_df.write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    hits = geofence.geofence_hits(spark, stream, fences)
    q = (
        hits.writeStream.format("memory")
        .queryName("t_geofence_hits")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "gf_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["event_time"], r["point_id"], r["polygon_id"])
        for r in spark.sql("SELECT * FROM t_geofence_hits").collect()
    }
    # batch oracle: the same join run as a plain batch DataFrame op
    want_pairs = {
        (r["point_id"], r["polygon_id"])
        for r in pip.pip_join(
            spark, batch_df.withColumn("id", F.monotonically_increasing_id()),
            fences, point_id="entity_id",
        ).collect()
    }
    assert {(p, pid) for _, p, pid in got} == want_pairs
    assert len(got) == 80  # 40 events in each fence, every event once
    # windowed counts finalize per fence under availableNow
    counts = geofence.streaming_geofence_counts(
        spark, spark.readStream.schema(schema).parquet(src), fences,
        window="1 minute", watermark="10 seconds",
    )
    q2 = (
        counts.writeStream.format("memory")
        .queryName("t_geofence_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "gf_ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    crows = spark.sql(
        "SELECT polygon_id, sum(n_events) AS n FROM t_geofence_counts GROUP BY polygon_id"
    ).collect()
    assert {r["polygon_id"]: r["n"] for r in crows} == {"a": 40, "b": 40}
