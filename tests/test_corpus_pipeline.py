"""assemble_corpus (pipeline/corpus.py): the composed funnel is monotone,
every stage's semantics hold on the manifest, and the run is
deterministic end-to-end."""

from pyspark.sql import functions as F

from s2_geometry_library_java_spark.operators import sampling, textstats
from s2_geometry_library_java_spark.pipeline import corpus

GOOD = (
    "the quick brown fox and the lazy dog walk to the river in the morning "
    "and they rest by the water for a while on the bank of the stream"
)


def _docs(spark):
    rows = []
    for i in range(120):
        src = f"s{i % 3}"
        if i % 10 == 9:
            text = "zz qq vv"  # fails quality (too_short)
        elif i % 10 == 8:
            text = GOOD + " exact twin"  # exact dup group (all % 10 == 8)
        else:
            text = GOOD + f" variant {'x ' * (i % 7)}"
        rows.append((i, src, text))
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_funnel_and_manifest(spark):
    docs = _docs(spark)
    w = {"s0": 0.5, "s1": 0.3, "s2": 0.2}
    manifest, funnel = corpus.assemble_corpus(spark, docs, w, total=12)
    f = {r["stage"]: r["n"] for r in funnel.collect()}
    # monotone funnel
    assert (
        f["raw"]
        >= f["quality_kept"]
        >= f["exact_canonical"]
        >= f["near_dup_kept"]
        >= f["mix_sampled"]
    )
    assert f["raw"] == 120
    assert f["quality_kept"] == 108  # the 12 too_short docs dropped
    assert f["exact_canonical"] < f["quality_kept"]  # exact twins collapsed
    rows = manifest.collect()
    assert len(rows) == f["mix_sampled"] > 0
    # packing invariants: chunk range covers the doc's tokens
    for r in rows:
        assert r["chunk_first"] <= r["chunk_last"]
        assert r["tok_start"] >= 0 and r["re_tokens"] > 0
    # the sample's per-source counts sum to the sampled total
    got = {}
    for r in rows:
        got[r["source"]] = got.get(r["source"], 0) + 1
    assert sum(got.values()) == f["mix_sampled"]
    assert set(got) <= {"s0", "s1", "s2"}


def test_deterministic(spark):
    docs = _docs(spark)
    w = {"s0": 0.5, "s1": 0.3, "s2": 0.2}
    a, _ = corpus.assemble_corpus(spark, docs, w, total=12)
    b, _ = corpus.assemble_corpus(spark, docs, w, total=12)
    ka = sorted((r["doc_id"], r["tok_start"]) for r in a.collect())
    kb = sorted((r["doc_id"], r["tok_start"]) for r in b.collect())
    assert ka == kb
