"""Deterministic sampling for training-mix construction.

Sampling a 100-TB corpus must be reproducible (re-runs and backfills
pick the SAME rows) and seedable. The exact-count and training-mix
samples rank rows by a pure integer hash of the row id — a 31-bit LCG
step (the same java.util.Random multiplier family the reference's
TestDataGenerator uses, kernel/javarandom.py) — evaluated as plain
Column arithmetic: no RNG state, no UDF, one per-stratum shuffle.
Every expression is mirrorable in ANSI SQL (the tests run the DuckDB
twin), keeping the engine's everything-has-an-oracle property.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# 31-bit LCG (glibc constants): u = (id mod 2^31) * A + C mod 2^31.
# All intermediates fit int64 ((2^31)*A ~ 2.3e18 < 2^63), so the same
# expression runs exactly in Spark, DuckDB, and Python.
_A = 1103515245
_C = 12345
_M = 2147483648


def _hash01(col, seed: int):
    u = ((col % _M + _M) % _M + seed) % _M
    u = (u * _A + _C) % _M
    u = (u * _A + _C) % _M  # two rounds: decorrelate consecutive ids
    return u / float(_M)


def hash01_sql(id_expr: str, seed: int) -> str:
    """The ANSI-SQL twin of the sampling hash (for oracles)."""
    u = f"((({id_expr}) % {_M} + {_M}) % {_M} + {seed}) % {_M}"
    u = f"(({u}) * {_A} + {_C}) % {_M}"
    u = f"(({u}) * {_A} + {_C}) % {_M}"
    return f"CAST({u} AS DOUBLE) / {_M}.0"


def mixture_allocation(
    avail: dict[str, int], weights: dict[str, float], total: int
) -> dict[str, int]:
    """Largest-remainder (Hamilton) apportionment of a ``total`` row budget
    across strata proportional to ``weights``, capped by per-stratum
    availability; a capped stratum's shortfall redistributes to the
    remaining strata by the same rule until stable.

    Pure driver-side integer/Fraction arithmetic, O(#strata) per round —
    the training-mix "sample 60% web, 30% code, 10% books" step. Exact and
    deterministic: quotas use Fractions (no float accumulation), remainder
    ties break by stratum name ascending.
    """
    from fractions import Fraction

    alloc = {k: 0 for k in weights}
    open_set = {k for k, w in weights.items() if w > 0 and avail.get(k, 0) > 0}
    budget = int(total)
    while budget > 0 and open_set:
        wsum = sum(Fraction(weights[k]) for k in open_set)
        if wsum == 0:
            break
        quotas = {k: Fraction(weights[k]) / wsum * budget for k in open_set}
        base = {k: int(quotas[k]) for k in open_set}
        leftover = budget - sum(base.values())
        order = sorted(
            open_set, key=lambda k: (-(quotas[k] - base[k]), k)
        )
        for k in order[:leftover]:
            base[k] += 1
        capped = False
        next_budget = 0
        for k in list(open_set):
            want = alloc[k] + base[k]
            cap = avail.get(k, 0)
            if want >= cap:
                next_budget += want - cap
                alloc[k] = cap
                open_set.discard(k)
                capped = capped or want > cap
            else:
                alloc[k] = want
        budget = next_budget
        if not capped and budget == 0:
            break
    return alloc


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    total: int,
    stratum_col: str,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic training-mix sample: apportion ``total`` rows across
    strata by ``weights`` (largest remainder, availability-capped), then
    draw each stratum's quota without replacement via the hash-ranked
    window. The only driver state is the per-stratum count table
    (#strata rows, never corpus rows)."""
    avail_rows = (
        df.where(F.col(stratum_col).isin(*weights.keys()))
        .groupBy(stratum_col)
        .agg(F.count("*").alias("n"))
        .collect()
    )
    avail = {r[stratum_col]: r["n"] for r in avail_rows}
    counts = mixture_allocation(avail, weights, total)
    return stratified_exact_sample(
        df, {k: v for k, v in counts.items() if v > 0},
        stratum_col, id_col, seed,
    )


def stratified_exact_sample(
    df: DataFrame,
    counts: dict[str, int],
    stratum_col: str,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Exactly n rows per stratum (fewer if the stratum is smaller):
    rank rows by the sampling hash within each stratum and keep the
    first n — a uniform without-replacement sample, deterministic in
    (ids, seed). One shuffle (the per-stratum window)."""
    n = F.lit(0)
    for k, v in sorted(counts.items()):
        n = F.when(F.col(stratum_col) == k, F.lit(int(v))).otherwise(n)
    w = Window.partitionBy(stratum_col).orderBy(
        _hash01(F.col(id_col), seed).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= n)
        .drop("_rk")
    )
