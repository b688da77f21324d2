"""vocab_topk_from_tf / tfidf_top_terms_from_tf over term_frequencies:
hand-computed oracles on a tiny corpus, plus determinism/tie-break
properties."""

import math

from s2_geometry_library_java_spark.operators import textstats


CORPUS = [
    (1, "apple banana apple cherry"),
    (2, "banana banana date"),
    (3, "apple date date date fig"),
    (4, ""),
]


def _tf(spark):
    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    return textstats.term_frequencies(df, "doc_id", "text")


def test_vocab_topk_counts_and_ties(spark):
    rows = textstats.vocab_topk_from_tf(_tf(spark), k=3).collect()
    # counts: apple 3, banana 3, date 4, cherry 1, fig 1
    # top-3 by (n desc, word asc): date(4), apple(3), banana(3)
    got = [(r["rank"], r["word"], r["n"]) for r in sorted(rows, key=lambda r: r["rank"])]
    assert got == [(1, "date", 4), (2, "apple", 3), (3, "banana", 3)]


def test_vocab_topk_k_larger_than_vocab(spark):
    rows = textstats.vocab_topk_from_tf(_tf(spark), k=100).collect()
    assert len(rows) == 5  # whole vocabulary, empty doc contributes nothing
    assert sorted(r["rank"] for r in rows) == [1, 2, 3, 4, 5]


def test_tfidf_top_terms_exact(spark):
    rows = textstats.tfidf_top_terms_from_tf(_tf(spark), top_n=2).collect()
    # doc freq: apple 2, banana 2, cherry 1, date 2, fig 1
    # doc 1: apple tf2 df2 -> 1_000_000; cherry tf1 df1 -> 1_000_000;
    #        banana tf1 df2 -> 500_000. top2 ties broken by word asc:
    #        apple then cherry.
    # doc 2: banana tf2 df2 -> 1_000_000; date tf1 df2 -> 500_000.
    # doc 3: date tf3 df2 -> 1_500_000; fig tf1 df1 -> 1_000_000.
    got = {(r["id"], r["rank"]): (r["word"], r["score_q"]) for r in rows}
    assert got[(1, 1)] == ("apple", 1_000_000)
    assert got[(1, 2)] == ("cherry", 1_000_000)
    assert got[(2, 1)] == ("banana", 1_000_000)
    assert got[(2, 2)] == ("date", 500_000)
    assert got[(3, 1)] == ("date", 1_500_000)
    assert got[(3, 2)] == ("fig", 1_000_000)
    assert (4, 1) not in got  # empty doc emits no terms


def test_tfidf_score_is_integer_division(spark):
    rows = textstats.tfidf_top_terms_from_tf(_tf(spark), top_n=5).collect()
    for r in rows:
        assert r["score_q"] == math.floor(r["tf"] * 1_000_000 / r["doc_freq"])


def test_tfidf_matches_duckdb_twin(spark, duck):
    """Same mirrored-algorithm rule as the gate: the DuckDB twin runs the
    identical integer arithmetic and must produce the identical row set."""
    import pandas as pd

    spark_rows = sorted(
        (r["id"], r["word"], r["tf"], r["doc_freq"], r["score_q"], r["rank"])
        for r in textstats.tfidf_top_terms_from_tf(_tf(spark), 3).collect()
    )
    pdf = pd.DataFrame(CORPUS, columns=["doc_id", "text"])
    duck.register("tiny_docs", pdf)
    sql = """
    WITH cw AS (SELECT doc_id AS id, unnest(
        string_split_regex(trim(regexp_replace(lower(text), '[^a-z ]', ' ', 'g')), ' +')
        ) AS word FROM tiny_docs),
    tf AS (SELECT id, word, COUNT(*) AS tf FROM cw WHERE word <> '' GROUP BY 1, 2),
    dfq AS (SELECT word, COUNT(*) AS doc_freq FROM tf GROUP BY 1),
    sc AS (SELECT id, word, tf.tf, doc_freq,
        (tf.tf * 1000000) // doc_freq AS score_q FROM tf JOIN dfq USING (word)),
    rk AS (SELECT *, row_number() OVER
        (PARTITION BY id ORDER BY score_q DESC, word) AS rank FROM sc)
    SELECT id, word, tf, doc_freq, score_q, rank FROM rk WHERE rank <= 3
    """
    duck_rows = sorted(tuple(t) for t in duck.execute(sql).fetchall())
    duck.unregister("tiny_docs")
    assert spark_rows == duck_rows


def _fingerprint_spec(text):
    """The ord() recurrence acc = (acc*31 + code) mod (2^31-1); NULL for
    NULL text."""
    if text is None:
        return None
    acc = 0
    for c in text:
        acc = (acc * 31 + ord(c)) % 2147483647
    return acc


def test_fingerprint64_udf_null_text_is_null(spark):
    """The Arrow fingerprint maps NULL text to NULL and agrees with the
    plain-Python recurrence on every other row (empty and non-ASCII
    included)."""
    rows = [(1, "apple pie"), (2, None), (3, ""), (4, "café"), (5, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["udf"]
        for r in df.select("doc_id", textstats.fingerprint64_udf("text").alias("udf")).collect()
    }
    assert got == {i: _fingerprint_spec(t) for i, t in rows}
    assert sorted(i for i, v in got.items() if v is None) == [2, 5]
