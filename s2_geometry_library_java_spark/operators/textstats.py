"""Text-analysis operators: language ID, quality scoring, token counting
(pure Column expressions, JVM, codegen-friendly) and document
fingerprinting (one Arrow kernel); integer outputs so DuckDB oracles match
bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from ..functions.columns import _c
from .dedup import normalized_words

# Tiny English stopword list shared with the oracle (keep sorted & stable).
STOPWORDS = ["a", "and", "by", "for", "in", "of", "on", "or", "the", "to", "with"]

#: BPE-ish token regex: alpha runs, digit runs, or single non-space symbols.
TOKEN_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def _intdiv(a, b) -> Column:
    """Integer floor division (non-negative operands): Spark `div`."""
    a = F.lit(a) if isinstance(a, int) else a
    b = F.lit(b) if isinstance(b, int) else b
    return F.try_divide(a - a % b, b).cast("long")


def whitespace_token_count(text) -> Column:
    t = F.trim(_c(text))
    return F.when(t == "", 0).otherwise(F.size(F.split(t, "\\s+")))


def regex_token_count(text) -> Column:
    return F.size(F.regexp_extract_all(F.lower(_c(text)), F.lit(TOKEN_REGEX), 0))


def stopword_count(text) -> Column:
    words = F.split(F.trim(F.regexp_replace(F.lower(_c(text)), "[^a-z ]", " ")), " +")
    return F.size(F.filter(words, lambda w: w.isin(STOPWORDS)))


def punct_count(text) -> Column:
    return F.size(F.regexp_extract_all(_c(text), F.lit("[^a-zA-Z0-9\\s]"), 0))


def lang_guess(text) -> Column:
    """n-gram-free heuristic language ID: stopword density on alpha words."""
    words = F.split(F.trim(F.regexp_replace(F.lower(_c(text)), "[^a-z ]", " ")), " +")
    n = F.size(words)
    sw = stopword_count(text)
    return (
        F.when(n == 0, F.lit("und"))
        .when(F.lit(20) * sw >= n, F.lit("en"))
        .otherwise(F.lit("unk"))
    )


def quality_score(text) -> Column:
    """Integer 0-100 quality score from length/punct/stopword ratios.

    Integer arithmetic only so Spark and the SQL oracle agree exactly:
    score = clamp(len div 20, 0, 40) + clamp(40 - (100*punct) div len, 0, 40)
            + clamp((200*stop) div ntok, 0, 20)
    — integer floor-division throughout (Spark ``div`` == DuckDB ``//`` on
    non-negative longs), no float casts anywhere.
    """
    ln = F.length(_c(text)).cast("long")
    ntok = F.greatest(whitespace_token_count(text), F.lit(1)).cast("long")
    len_term = F.least(_intdiv(ln, 20), F.lit(40))
    punct_term = F.greatest(
        F.least(
            F.lit(40) - _intdiv(F.lit(100) * punct_count(text), F.greatest(ln, F.lit(1))),
            F.lit(40),
        ),
        F.lit(0),
    )
    stop_term = F.least(_intdiv(F.lit(200) * stopword_count(text), ntok), F.lit(20))
    return (len_term + punct_term + stop_term).alias("quality")


@pandas_udf(LongType())
def fingerprint64_udf(texts: pd.Series) -> pd.Series:
    """Polynomial rolling hash of a text column over character codes:
    acc = (acc*31 + code(c)) mod (2^31-1), left to right — a deterministic
    document fingerprint the DuckDB ``list_reduce`` oracle computes too.
    Pure INTEGER arithmetic, replayed position by position with one vector
    op per character position (int64 never overflows: acc < 2^31,
    acc*31 + 127 < 2^36). ASCII batches use a fixed-width byte matrix; any
    non-ASCII row falls back to an exact per-char ord() loop (the code of
    a character is its codepoint). NULL text gives NULL, "" gives 0."""
    M, BASE = 2147483647, 31
    null = texts.isna().to_numpy()
    vals = ["" if n else t for t, n in zip(texts, null)]
    out = np.zeros(len(vals), dtype=np.int64)
    if not vals:
        return pd.Series(out)
    enc = [t.encode("utf-8") for t in vals]
    lens = np.array([len(t) for t in vals], dtype=np.int64)
    if all(len(e) == n for e, n in zip(enc, lens)):  # pure ASCII
        width = int(lens.max())
        buf = np.zeros((len(vals), width), dtype=np.int64)
        for r, e in enumerate(enc):
            if e:
                buf[r, : len(e)] = np.frombuffer(e, dtype=np.uint8)
        acc = np.zeros(len(vals), dtype=np.int64)
        for i in range(width):  # char order == the SQL fold
            live = lens > i
            acc[live] = (acc[live] * BASE + buf[live, i]) % M
        out = acc
    else:
        for r, t in enumerate(vals):
            a = 0
            for c in t:
                a = (a * BASE + ord(c)) % M
            out[r] = a
    # NULL text hashes to NULL
    return pd.Series(pd.arrays.IntegerArray(out, null))


def term_frequencies(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, word, tf) per-document term counts — the shared first stage of
    vocab_topk_from_tf and tfidf_top_terms_from_tf. One shuffle keyed by
    (id, word) with map-side combine. Both downstream views read it as it
    is: caching it for two consumers (vocab and tfidf, or tfidf's own
    doc-frequency aggregate) ran no faster in a cold A/B (sf0.01 and
    sf0.1)."""
    return (
        df.select(_c(id_col).alias("id"), normalized_words(text_col).alias("w"))
        .select("id", F.explode("w").alias("word"))
        .where(F.col("word") != "")
        .groupBy("id", "word")
        .agg(F.count("*").alias("tf"))
    )


def vocab_topk_from_tf(tf: DataFrame, k: int = 100) -> DataFrame:
    """Corpus vocabulary over a term_frequencies table: global top-k words
    by total count, ties broken by word ascending; returns (word, n, rank)
    with rank 1..k. The global word count is the sum of per-doc counts.

    Scale shape: the only shuffle is keyed by word (cardinality = vocab
    size, NOT corpus size), then orderBy().limit(k) — Spark plans that as
    TakeOrderedAndProject (per-partition heap + driver merge of k rows per
    partition), never a full sort. The rank window runs over the k-row
    result only.
    """
    counts = tf.groupBy("word").agg(F.sum("tf").alias("n"))
    top = counts.orderBy(F.desc("n"), F.asc("word")).limit(k)
    rank_w = Window.orderBy(F.desc("n"), F.asc("word"))
    return top.withColumn("rank", F.row_number().over(rank_w))


def tfidf_top_terms_from_tf(tf: DataFrame, top_n: int = 3) -> DataFrame:
    """Per-document top-n keywords by an integer-exact TF-IDF variant, over
    a term_frequencies table.

    idf here is the raw reciprocal document frequency (no log), quantized
    so the score is exact integer arithmetic on both engines:
    ``score_q = (tf * 1_000_000) div doc_freq`` — Spark ``DIV`` ==
    DuckDB ``//`` on non-negative longs, so the gate hash-matches without
    any float in the pipeline (same mirrored-algorithm rule as the other
    approximate operators). Ranking within a doc by tf/df is the
    idf-without-log member of the standard TF-IDF family.

    Scale shape: one word-keyed aggregation for document frequency
    (vocab-sized output — AQE broadcasts it back onto the term table when
    small), one id-keyed window for the per-doc top-n. No step is
    corpus-pairwise.
    """
    dfreq = tf.groupBy("word").agg(F.count("*").alias("doc_freq"))
    scored = tf.join(dfreq, "word").withColumn(
        "score_q", F.expr("tf * 1000000 DIV doc_freq")
    )
    rank_w = Window.partitionBy("id").orderBy(F.desc("score_q"), F.asc("word"))
    return (
        scored.withColumn("rank", F.row_number().over(rank_w))
        .where(F.col("rank") <= top_n)
        .select("id", "word", "tf", "doc_freq", "score_q", "rank")
    )


def grouped_percentiles(
    df: DataFrame, group_col: str, value_col: str, percentiles=(50, 90)
) -> DataFrame:
    """Exact nearest-rank percentiles per group — corpus reporting (token
    length distribution per source, etc). (grp, pct, v, n) where v is the
    value at ascending rank ceil(p*n/100).

    Nearest-rank is chosen over interpolation because the result is a
    value FROM the data, identical in any engine (no float interpolation
    semantics to mirror). One shuffle keyed by group; rank, count, and
    all percentile picks ride a single window pass (the pct labels
    explode from a when-array, so no per-percentile rescan).
    """
    ranked = (
        df.select(_c(group_col).alias("grp"), _c(value_col).alias("v"))
        .withColumn("rn", F.row_number().over(Window.partitionBy("grp").orderBy(F.col("v").asc())))
        .withColumn("n", F.count("*").over(Window.partitionBy("grp")))
    )
    picks = F.array(
        *[
            F.when(
                F.col("rn") == _intdiv(F.col("n") * int(p) + 99, 100),
                F.lit(int(p)),
            )
            for p in percentiles
        ]
    )
    hits = F.filter(picks, lambda x: x.isNotNull())
    return (
        ranked.withColumn("pct", F.explode(hits))
        .select("grp", "pct", "v", F.col("n").cast("long").alias("n"))
    )


# Token-count bounds of quality_columns; tests patch them to move a doc
# across a rule.
MIN_TOKENS = 5
MAX_TOKENS = 100_000


def quality_columns(text) -> tuple:
    """(keep, reason) Column pair for rule-based quality filtering — the
    C4/Gopher-style cleaning pass. ``reason`` is the FIRST failing rule in
    a fixed order (too_short: under MIN_TOKENS tokens, too_long: over
    MAX_TOKENS, long_word: a word over 40 characters, low_quality:
    quality_score under 50, lang: not 'en'), '' when the doc is kept.
    Every comparison is integer-exact, so the DuckDB oracle twin agrees
    bit-for-bit."""
    ntok = whitespace_token_count(text)
    t = F.trim(_c(text))
    longest = F.when(t == "", F.lit(0)).otherwise(
        F.array_max(F.transform(F.split(t, "\\s+"), lambda w: F.length(w)))
    )
    reason = (
        F.when(ntok < MIN_TOKENS, F.lit("too_short"))
        .when(ntok > MAX_TOKENS, F.lit("too_long"))
        .when(longest > 40, F.lit("long_word"))
        .when(quality_score(text) < 50, F.lit("low_quality"))
        .when(~lang_guess(text).isin("en"), F.lit("lang"))
        .otherwise(F.lit(""))
    )
    return (reason == "").alias("keep"), reason.alias("reason")


def quality_filter(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, keep, reason) per document: pure Column, zero shuffle — the
    filter itself is `WHERE keep`; the reason column is what a production
    pipeline logs/aggregates for drop-rate monitoring."""
    keep, reason = quality_columns(text_col)
    return df.select(_c(id_col).alias("id"), keep, reason)


# PII patterns kept to the Java-regex / RE2 common subset so Spark and the
# DuckDB oracle match the same spans (no lookaround, no backrefs).
PII_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_counts(text) -> tuple:
    """(n_emails, n_ipv4) Column pair: occurrences of each PII pattern."""
    t = _c(text)
    return (
        F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(PII_IPV4), 0)).alias("n_ipv4"),
    )


def redact_pii(text) -> Column:
    """Replace every email / IPv4 occurrence with a typed placeholder —
    the PII-scrub pass of a training-data pipeline. Pure Column regex
    (zero shuffle); emails redact before IPs so an address inside an
    email's domain never double-redacts."""
    t = F.regexp_replace(_c(text), PII_EMAIL, "<EMAIL>")
    return F.regexp_replace(t, PII_IPV4, "<IP>")


def doc_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The full text-stats row: one pass, no shuffle at all."""
    return df.select(
        _c(id_col).alias("id"),
        whitespace_token_count(text_col).alias("ws_tokens"),
        regex_token_count(text_col).alias("re_tokens"),
        stopword_count(text_col).alias("stopwords"),
        punct_count(text_col).alias("puncts"),
        lang_guess(text_col).alias("lang_guess"),
        quality_score(text_col).alias("quality"),
        fingerprint64_udf(_c(text_col)).alias("fingerprint"),
    )
