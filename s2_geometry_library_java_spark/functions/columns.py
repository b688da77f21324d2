"""Cell-id algebra as pure Spark Column expressions.

These mirror the branch-free bit math of S2CellId.java:454-876 but stay
entirely JVM-side inside whole-stage codegen — no Python boundary. Cell ids
are stored as raw-bits signed int64 (``cell_id``); ordering/range logic uses
the biased form ``cell_id XOR Long.MIN_VALUE`` so signed order == unsigned
Hilbert order (the engine's key convention, see SURVEY.md §1.1).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

MAX_LEVEL = 30
MIN_LONG = -9223372036854775808  # 1 << 63 as signed


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def biased(cell_id) -> Column:
    """Order-preserving signed form: id XOR 2^63."""
    return _c(cell_id).bitwiseXOR(F.lit(MIN_LONG))


def lowest_on_bit(cell_id) -> Column:
    cid = _c(cell_id)
    return cid.bitwiseAND(-cid)


def level(cell_id) -> Column:
    """level = 30 - trailing_zeros/2; exact via log2 of the power-of-two lsb
    (lsb <= 2^60 so the double conversion is exact)."""
    lsb = lowest_on_bit(cell_id)
    return (F.lit(MAX_LEVEL) - (F.log2(lsb.cast("double")).cast("long") / 2).cast("long")).cast(
        "int"
    )


def lsb_for_level(lvl) -> Column:
    lvl = F.lit(lvl) if isinstance(lvl, int) else _c(lvl)
    # F.shiftleft's numBits must be a literal int; call the SQL function
    # directly so the shift amount can be a Column.
    return F.call_function(
        "shiftleft", F.lit(1).cast("long"), (F.lit(2) * (F.lit(MAX_LEVEL) - lvl)).cast("int")
    )


def parent(cell_id, lvl) -> Column:
    """parent(level) = (id & -lsb(level)) | lsb(level) (S2CellId.java:1645-48)."""
    new_lsb = lsb_for_level(lvl)
    return _c(cell_id).bitwiseAND(-new_lsb).bitwiseOR(new_lsb)


def range_min(cell_id) -> Column:
    return _c(cell_id) - (lowest_on_bit(cell_id) - F.lit(1))


def range_max(cell_id) -> Column:
    return _c(cell_id) + (lowest_on_bit(cell_id) - F.lit(1))


def range_min_biased(cell_id) -> Column:
    return biased(range_min(cell_id))


def range_max_biased(cell_id) -> Column:
    return biased(range_max(cell_id))


def face(cell_id) -> Column:
    """face = unsigned id >> 61 (use the biased trick to emulate >>> in SQL)."""
    return F.shiftrightunsigned(_c(cell_id), 61).bitwiseAND(F.lit(7)).cast("int")


def child_begin(cell_id, lvl) -> Column:
    return _c(cell_id) - lowest_on_bit(cell_id) + lsb_for_level(lvl)


def child_end(cell_id, lvl) -> Column:
    return _c(cell_id) + lowest_on_bit(cell_id) + lsb_for_level(lvl)


def contains(a, b) -> Column:
    """a contains b, via biased range containment."""
    return (range_min_biased(a) <= range_min_biased(b)) & (
        range_max_biased(b) <= range_max_biased(a)
    )


def intersects(a, b) -> Column:
    return (range_min_biased(b) <= range_max_biased(a)) & (
        range_max_biased(b) >= range_min_biased(a)
    )


def leaf_cells_covered(cell_id) -> Column:
    """D11 S2CellUnion.leafCellsCovered per cell: 4^(30-level) leaves
    (S2CellUnion.java:812-819) — SUM it for the union measure. Pure JVM."""
    inv = F.lit(MAX_LEVEL).cast("int") - level(cell_id)
    return F.call_function("shiftleft", F.lit(1).cast("long"), (inv * 2).cast("int"))


def token(cell_id) -> Column:
    """Hex token: 16-digit zero-padded lowercase hex, trailing zeros stripped
    (S2CellId.java:981-996). Pure Spark string functions."""
    padded = F.lower(F.lpad(F.hex(_c(cell_id)), 16, "0"))
    stripped = F.regexp_replace(padded, "0+$", "")
    return F.when(_c(cell_id) == 0, F.lit("X")).otherwise(stripped)
