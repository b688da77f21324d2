"""repeated_window_spans: exact repeated-substring span detection
(Lee-et-al-style w-token window dedup with island merging)."""

from s2_geometry_library_java_spark.operators import dedup


def _spans(spark, rows, w=4):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.repeated_window_spans(df, "doc_id", "text", w=w)
    return sorted(
        (r["id"], r["tok_start"], r["tok_end"], r["n_windows"]) for r in out.collect()
    )


def _words(prefix, n):
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_shared_passage_exact_boundaries(spark):
    # docs 1 and 2 share a 10-token passage; unique prefixes/suffixes differ
    shared = _words("common", 10)
    rows = [
        (1, _words("aa", 5) + " " + shared + " " + _words("zz", 3)),
        (2, _words("bb", 7) + " " + shared + " " + _words("yy", 4)),
        (3, _words("solo", 20)),
    ]
    got = _spans(spark, rows, w=4)
    # passage spans tokens [5,15) in doc 1 and [7,17) in doc 2:
    # 7 windows of 4 tokens each (10 - 4 + 1), merged into one island
    assert got == [(1, 5, 15, 7), (2, 7, 17, 7)]


def test_two_disjoint_passages_two_islands(spark):
    p1, p2 = _words("p", 6), _words("q", 6)
    rows = [
        (1, p1 + " " + _words("fill", 9) + " " + p2),
        (2, p1 + " " + _words("other", 12) + " " + p2),
    ]
    got = _spans(spark, rows, w=4)
    # each doc: island [0,6) and island at the tail, 3 windows each
    assert [(i, a, b) for i, a, b, _ in got] == [
        (1, 0, 6), (1, 15, 21), (2, 0, 6), (2, 18, 24),
    ]
    assert all(n == 3 for _, _, _, n in got)


def test_within_doc_repeat_not_flagged_across_min_docs(spark):
    # the repeated phrase lives in ONE doc only -> no two docs share it
    phrase = _words("rep", 5)
    rows = [(1, phrase + " " + _words("mid", 4) + " " + phrase), (2, _words("u", 15))]
    assert _spans(spark, rows, w=4) == []


def test_adjacent_windows_merge_gap_splits(spark):
    # shared run of exactly 2w tokens: windows tile it contiguously and
    # merge into ONE span (gap rule: pos - prev <= w keeps the island)
    shared = _words("c", 8)
    rows = [(1, shared), (2, _words("pre", 3) + " " + shared)]
    got = _spans(spark, rows, w=4)
    assert got == [(1, 0, 8, 5), (2, 3, 11, 5)]
