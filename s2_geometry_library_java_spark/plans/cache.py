"""The one owner of cached intermediates.

``hold(df)`` is the package's only persist: one storage level
(MEMORY_AND_DISK), and the held DataFrame joins the innermost open
``scope()``. Leaving a scope unpersists everything held inside it, so a
caller that wraps its action in a scope leaves no cached block behind and
a repeated call recomputes instead of reading the last call's blocks.
Scopes nest; each releases only its own holds.

With no scope open, ``hold`` is a plain persist and the block lives until
the caller unpersists it or the session clears its cache.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_scopes: list[list[DataFrame]] = []


def hold(df: DataFrame) -> DataFrame:
    """``df`` persisted and owned by the innermost open scope. A plan that
    is already cached stays with whoever cached it."""
    if df.storageLevel != StorageLevel.NONE:
        return df
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    if _scopes:
        _scopes[-1].append(df)
    return df


@contextmanager
def scope() -> Iterator[None]:
    """Unpersists, on exit, every DataFrame held inside the block."""
    held: list[DataFrame] = []
    _scopes.append(held)
    try:
        yield
    finally:
        _scopes.pop()
        for df in held:
            df.unpersist()
