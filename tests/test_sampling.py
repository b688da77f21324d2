"""Deterministic stratified sampling: Python / DuckDB / Spark hash
parity and exact per-stratum counts on the documents table."""

from __future__ import annotations

import duckdb

from pyspark.sql import functions as F

from s2_geometry_library_java_spark.operators import sampling
from s2_geometry_library_java_spark.sources import tables
from tests.conftest import SF_DIR


def _py_hash01(i: int, seed: int) -> float:
    u = ((i % sampling._M + sampling._M) % sampling._M + seed) % sampling._M
    u = (u * sampling._A + sampling._C) % sampling._M
    u = (u * sampling._A + sampling._C) % sampling._M
    return u / float(sampling._M)


def test_hash01_matches_python_and_duckdb(spark):
    """The Spark Column hash, its Python form and its DuckDB twin give
    bit-identical values on every documents row."""
    d = tables.load_table(spark, SF_DIR, "documents").select("doc_id")
    got = {
        r["doc_id"]: r["h"]
        for r in d.select("doc_id", sampling._hash01(F.col("doc_id"), 42).alias("h")).collect()
    }
    assert len(got) > 0
    assert got == {i: _py_hash01(i, 42) for i in got}
    h = sampling.hash01_sql("doc_id", 42)
    sql = f"SELECT doc_id, {h} FROM read_parquet('{SF_DIR}/documents.parquet')"
    assert dict(duckdb.sql(sql).fetchall()) == got
    assert all(0.0 <= v < 1.0 for v in got.values())


def test_exact_sample_counts_and_determinism(spark):
    d = tables.load_table(spark, SF_DIR, "documents").select("doc_id", "lang")
    counts = {"en": 25, "de": 10}
    out = sampling.stratified_exact_sample(d, counts, "lang", seed=3)
    per = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    avail = {
        r["lang"]: r["n"]
        for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    for lang, want_n in counts.items():
        assert per.get(lang, 0) == min(want_n, avail.get(lang, 0))
    assert set(per) <= set(counts)  # other strata get n=0
    # deterministic: same (data, seed) -> same ids; matches the Python rank
    ids = sorted(r["doc_id"] for r in out.where(F.col("lang") == "en").collect())
    en_rows = [r["doc_id"] for r in d.where(F.col("lang") == "en").collect()]
    want = sorted(
        sorted(en_rows, key=lambda i: (_py_hash01(i, 3), i))[:25]
    )
    assert ids == want
