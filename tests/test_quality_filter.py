"""quality_filter (operators/textstats.py): each rule fires on a crafted
doc, first-failing-rule precedence, and keep == (reason == '')."""

from s2_geometry_library_java_spark.operators import textstats

GOOD = (
    "the quick brown fox and the lazy dog walk to the river in the morning "
    "and they rest by the water for a while on the bank of the stream "
    "watching the sun rise over the hills in the quiet of the day"
)

DOCS = [
    (1, GOOD),                                   # keep
    (2, "too short"),                            # too_short
    (3, GOOD + " " + "x" * 50),                  # long_word
    (4, ";;;; !!!! @@@@ #### $$$$ %%%% ^^^^"),   # low-ish: punct-heavy
    (5, "zzz qqq vvv kkk jjj www yyy uuu rrr ttt eee " * 8),  # lang (no stopwords)
]


def _run(spark, docs=DOCS):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    return {
        r["id"]: (r["keep"], r["reason"])
        for r in textstats.quality_filter(df, "doc_id", "text").collect()
    }


def test_rules_fire(spark):
    out = _run(spark)
    assert out[1] == (True, "")
    assert out[2] == (False, "too_short")
    assert out[3] == (False, "long_word")
    assert out[4][0] is False and out[4][1] in ("low_quality", "lang")
    assert out[5] == (False, "lang")


def test_first_rule_precedence(spark):
    # doc 2 is too_short AND punct-free/low-quality-ish: too_short must win
    out = _run(spark)
    assert out[2][1] == "too_short"


def test_keep_iff_empty_reason(spark):
    for keep, reason in _run(spark).values():
        assert keep == (reason == "")


def test_options_move_thresholds(spark, monkeypatch):
    # with MIN_TOKENS=1 doc 2 is no longer too_short
    monkeypatch.setattr(textstats, "MIN_TOKENS", 1)
    out = _run(spark)
    assert out[2][1] != "too_short"
    # with MAX_TOKENS tiny, the good doc trips too_long
    monkeypatch.setattr(textstats, "MAX_TOKENS", 10)
    out = _run(spark)
    assert out[1] == (False, "too_long")


def test_token_count_bounds(spark):
    # too_short under 5 whitespace tokens, too_long over 100,000
    out = _run(spark, [
        (1, "the quick brown fox"),
        (2, "the quick brown fox and"),
        (3, " ".join(["the"] * 100_000)),
        (4, " ".join(["the"] * 100_001)),
    ])
    assert out[1] == (False, "too_short")
    assert out[2][1] != "too_short"
    assert out[3][1] != "too_long"
    assert out[4] == (False, "too_long")
