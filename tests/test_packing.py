"""Sequence packing: distributed prefix sum, concat-and-chunk window
assignment and sliding chunks."""

from __future__ import annotations

import pytest
from pyspark.sql import Window, functions as F

from s2_geometry_library_java_spark.operators import packing
from s2_geometry_library_java_spark.sources import tables
from tests.conftest import SF_DIR


def _tokens_df(spark, n=997, seed=7):
    import random

    rnd = random.Random(seed)
    rows = [(i, rnd.randrange(0, 300)) for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, re_tokens long")


@pytest.fixture
def shuffle_partitions(spark):
    """set(n) sets spark.sql.shuffle.partitions, the partition count of
    the prefix sum's range repartition; the session value comes back after
    the test."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    yield lambda n: spark.conf.set("spark.sql.shuffle.partitions", str(n))
    spark.conf.set("spark.sql.shuffle.partitions", before)


def test_prefix_sum_matches_global_window(spark, shuffle_partitions):
    """The two-phase prefix sum equals the single-task global window
    exactly, at several partition counts (incl. more partitions than
    rows in a partition-starved setting)."""
    df = _tokens_df(spark)
    want = {
        r["doc_id"]: r["cum"]
        for r in df.withColumn(
            "cum",
            F.sum("re_tokens").over(
                Window.orderBy("doc_id").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
        ).collect()
    }
    for nparts in (1, 7, 64):
        shuffle_partitions(nparts)
        got = {
            r["doc_id"]: r["cum"]
            for r in packing.with_prefix_sum(df, "doc_id", "re_tokens").collect()
        }
        assert got == want


def test_chunk_assignments_invariants(spark, shuffle_partitions):
    budget = 256
    df = _tokens_df(spark)
    shuffle_partitions(8)
    out = packing.with_chunk_assignments(df, budget)
    rows = sorted(
        out.select("doc_id", "re_tokens", "tok_start", "chunk_first",
                   "chunk_last").collect(),
        key=lambda r: r["doc_id"],
    )
    # concatenation: each doc starts where the previous ended
    expect_start = 0
    for r in rows:
        assert r["tok_start"] == expect_start
        expect_start += r["re_tokens"]
        assert r["chunk_first"] == r["tok_start"] // budget
        last_tok = max(r["tok_start"] + r["re_tokens"] - 1, r["tok_start"])
        assert r["chunk_last"] == last_tok // budget
        # a doc spans at most ceil(tokens/budget)+1 windows
        assert r["chunk_last"] - r["chunk_first"] <= r["re_tokens"] // budget + 1
    # some docs straddle a window boundary with 0-300-token docs @ 256
    assert any(r["chunk_first"] != r["chunk_last"] for r in rows)


def test_chunk_assignments_on_documents_table(spark, shuffle_partitions):
    """Real documents table: total windows == ceil(total_tokens/budget)
    and every window in range is covered by at least one doc."""
    from s2_geometry_library_java_spark.operators import textstats

    budget = 512
    d = tables.load_table(spark, SF_DIR, "documents")
    stats = textstats.doc_stats(d, "doc_id", "text")
    shuffle_partitions(16)
    out = packing.with_chunk_assignments(stats, budget, id_col="id")
    agg = out.agg(
        F.sum("re_tokens").alias("total"),
        F.max("chunk_last").alias("last"),
    ).collect()[0]
    assert agg["last"] == (agg["total"] - 1) // budget
    n_windows = out.select(
        F.explode(F.sequence("chunk_first", "chunk_last")).alias("w")
    ).distinct().count()
    assert n_windows == agg["last"] + 1


def test_sliding_chunks_boundaries(spark):
    from s2_geometry_library_java_spark.operators import packing as pk

    # 10 tokens, window 4, stride 3 -> starts 0,3,6 then ceil((10-4)/3)=2,
    # +1 = 3 chunks: [0,4) [3,7) [6,10)
    text = "a b c d e f g h i j"
    df = spark.createDataFrame([(1, text), (2, ""), (3, "solo")],
                               "doc_id long, text string")
    rows = pk.sliding_chunks(df, "doc_id", "text", window=4, stride=3).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["id"], []).append(
            (r["chunk_idx"], r["tok_start"], r["tok_end"], r["n_tokens"])
        )
    assert sorted(by_doc[1]) == [(0, 0, 4, 4), (1, 3, 7, 4), (2, 6, 10, 4)]
    assert 2 not in by_doc          # empty doc emits nothing
    assert sorted(by_doc[3]) == [(0, 0, 1, 1)]  # short doc: one short chunk


def test_sliding_chunks_hash_is_content_hash(spark):
    from s2_geometry_library_java_spark.operators import dedup as dd
    from s2_geometry_library_java_spark.operators import packing as pk
    from pyspark.sql import functions as F

    # two docs sharing a token window must share that chunk's hash
    df = spark.createDataFrame(
        [(1, "x y z w p q"), (2, "x y z w other tail")],
        "doc_id long, text string",
    )
    rows = pk.sliding_chunks(df, "doc_id", "text", window=4, stride=4).collect()
    h = {(r["id"], r["chunk_idx"]): r["chunk_hash"] for r in rows}
    assert h[(1, 0)] == h[(2, 0)]   # both are hash('x y z w')
    assert h[(1, 1)] != h[(2, 1)]
    want = df.select(dd.hash32(F.lit("x y z w"), 5).alias("h")).collect()[0]["h"]
    assert h[(1, 0)] == want
