"""Deterministic geo derivation from integer keys — the engine's synthetic
geo side-channel for correctness gating.

The same arithmetic is emitted twice: as Spark Columns (for ``queries()``)
and as SQL text fragments (for the DuckDB ``oracle_sql()``). Both are pure
integer arithmetic on BIGINT, so the two engines agree bit-for-bit with no
floating-point risk. lat/lng land in (-80, 80) x (-180, 180) to stay off the
poles; (face, i, j) cover all six faces and the full 2^30 ij range.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..functions.columns import _c

MAX_SIZE = 1 << 30

# multipliers: Knuth hash, glibc LCG, and two primes — arbitrary but fixed.
_I_MULT = 2654435761
_J_MULT = 1103515245
_J_ADD = 12345
_LAT_MULT = 7919
_LNG_MULT = 104729


# -- Spark side ---------------------------------------------------------------

def face_col(key) -> Column:
    return (_c(key) % 6).cast("int")


def i_col(key) -> Column:
    return (_c(key) * F.lit(_I_MULT)) % F.lit(MAX_SIZE)


def j_col(key) -> Column:
    return (_c(key) * F.lit(_J_MULT) + F.lit(_J_ADD)) % F.lit(MAX_SIZE)


def lat_col(key) -> Column:
    return ((_c(key) * F.lit(_LAT_MULT)) % F.lit(16000)) / F.lit(100.0) - F.lit(80.0)


def lng_col(key) -> Column:
    return ((_c(key) * F.lit(_LNG_MULT)) % F.lit(36000)) / F.lit(100.0) - F.lit(180.0)


# -- DuckDB side (same spec as SQL text) --------------------------------------

def face_sql(key: str) -> str:
    return f"CAST(({key}) % 6 AS INTEGER)"


def i_sql(key: str) -> str:
    return f"((({key}) * {_I_MULT}) % {MAX_SIZE})"


def j_sql(key: str) -> str:
    return f"((({key}) * {_J_MULT} + {_J_ADD}) % {MAX_SIZE})"


def lat_sql(key: str) -> str:
    return f"(((({key}) * {_LAT_MULT}) % 16000) / 100.0 - 80.0)"


def lng_sql(key: str) -> str:
    return f"(((({key}) * {_LNG_MULT}) % 36000) / 100.0 - 180.0)"
